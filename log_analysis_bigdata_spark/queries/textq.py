"""Text-analysis and deduplication operators over ``documents`` — the
LLM-training-data-pipeline surface (BASELINE.json north star): exact
dedup, MinHash-LSH near-dup, fingerprinting, token/quality metrics.

Cross-engine determinism: all hashing is ``md5`` (identical hex output in
Spark and DuckDB), MinHash is min-over-tokens of seeded md5 (lexicographic
min on hex strings — engine-independent), and the dup corpus injects
deterministic duplicates (every doc_id % 10 == 0 re-keyed at +PLANT_SHIFT)
so dedup queries have non-trivial answers at every scale factor.

Scale notes (100 TB): exact dedup is one hash-shuffle on a 32-hex-char
key; MinHash-LSH is the standard shingle→signature→band→bucket-join plan —
each band join is an equi-join on a short digest, so candidate generation
never goes quadratic.  The only quadratic step (verifying candidate pairs)
runs on the tiny candidate set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import (
    MINHASH_P,
    minhash_component,
    minhash_mix_consts,
    shingle_hashes,
    shingles,
    symbol_count,
    tokens,
)
from ..operators.dedup import band_digests, candidate_pairs, shingle_sets


from . import register


def _mix(h, seed: int):
    """Seed-th universal-hash mix of a base-hash COLUMN (scalar twin of
    functions.text.minhash_component's per-element mix)."""
    a, b = minhash_mix_consts(seed)
    return (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P)


def _tokens(col: str = "text") -> Column:
    return tokens(F.col(col))


# Re-key shift for every planted-duplicate corpus in the repo. 10^12,
# not the legacy +1M: real doc_ids reach ~5M at sf100, where a 1M shift
# makes a planted copy COLLIDE with a genuine document (the survivors
# query hit exactly that in its r10 self-review). ONE shared constant —
# variant corpora use small multiples (2x, 3x) — so a headroom fix can
# never miss a copy again (ADVICE r10 / VERDICT r10 task 1).
PLANT_SHIFT = 1_000_000_000_000


def _dup_corpus_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + PLANT_SHIFT).alias("doc_id"), "text")
    )
    return docs.unionByName(dups)


_DUP_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {PLANT_SHIFT} AS doc_id, text
    FROM documents WHERE doc_id % 10 = 0
"""


# DuckDB twins of functions.text.tokens / shingles / minhash_component.
_TOK_SQL = "string_split_regex(trim(text), ' +')"
_SHINGLE_SQL = (
    f"(CASE WHEN len({_TOK_SQL}) >= 3 THEN "
    f"list_transform(range(1, len({_TOK_SQL}) - 1), "
    f"i -> {_TOK_SQL}[i] || ' ' || {_TOK_SQL}[i+1] || ' ' || {_TOK_SQL}[i+2]) "
    "ELSE CAST([] AS VARCHAR[]) END)"
)


# Base-hash array twin of functions.text.shingle_hashes: ONE md5 per
# shingle, full 60-bit hex prefix as int64 (collision space for the
# Jaccard verify). Components are cheap universal-hash mixes over it
# (Broder's single-base-hash MinHash), reducing mod MINHASH_P — the
# SAME imported constant the engine uses, so the two sides cannot
# drift (code-review r7).
_HS_SQL = "list_transform(sh, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)"


def _sig_sql(seed: int, hash_expr: str = "hs") -> str:
    a, b = minhash_mix_consts(seed)
    return (
        f"list_aggregate(list_transform({hash_expr}, "
        f"h -> ({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P}), 'min')"
    )


def _band_sql(lo: int, hash_expr: str = "hs") -> str:
    """md5 digest over signature components lo..lo+3 (cast to text)."""
    parts = " || '|' || ".join(
        f"CAST({_sig_sql(i, hash_expr)} AS VARCHAR)"
        for i in range(lo, lo + 4)
    )
    return f"md5({parts})"


@register(
    "dedup_exact_docs",
    oracle=f"""
    WITH corpus AS ({_DUP_CORPUS_SQL})
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keep_doc_id
    FROM corpus
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
    tags=("dedup", "exact"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest; keep min doc_id."""
    corpus = _dup_corpus_spark(spark, sf_dir)
    return (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS fingerprint
    FROM documents
    """,
    tags=("dedup", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )


@register(
    "minhash_signatures",
    oracle=f"""
    WITH sh_t AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents),
    hst AS (SELECT doc_id, {_HS_SQL} AS hs FROM sh_t)
    SELECT doc_id,
           {_sig_sql(0)} AS sig0,
           {_sig_sql(1)} AS sig1,
           {_sig_sql(2)} AS sig2,
           {_sig_sql(3)} AS sig3
    FROM hst
    """,
    tags=("dedup", "minhash"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (k=4 shown) over word-3-gram shingles.
    Shingles, not unigrams: the shingle space is |vocab|³ so unrelated
    documents rarely collide (unigram minhash over a small vocabulary
    marks everything similar)."""
    docs = load_table(spark, sf_dir, "documents")
    # persist = the materialization boundary that keeps the per-shingle
    # base md5 single-pass (CollapseProject would otherwise re-inline it
    # into each component min — functions.text docstring)
    hs = docs.select(
        "doc_id", shingle_hashes(shingles(_tokens())).alias("hs")
    ).persist()
    out = hs.select(
        "doc_id",
        *[minhash_component(F.col("hs"), i).alias(f"sig{i}") for i in range(4)],
    ).localCheckpoint(eager=True)
    hs.unpersist(blocking=False)
    return out


_BANDS_SQL = f"""
      SELECT doc_id, {_band_sql(0)} AS band0, {_band_sql(4)} AS band1
      FROM (SELECT doc_id, {_HS_SQL} AS hs FROM sh_t) hst
"""


@register(
    "minhash_dup_pairs",
    oracle=f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    sh_t AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM corpus),
    sigs AS ({_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sigs a JOIN sigs b
      ON a.band0 = b.band0 OR a.band1 = b.band1
    WHERE a.doc_id < b.doc_id
    """,
    tags=("dedup", "minhash", "lsh"),
)
def minhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: shingle → 8-component signature →
    2 bands × 4 rows → candidates, run by operators.dedup's stages.

    The oracle's OR-join is ``candidate_pairs``' single equi-self-join
    on (band index, digest) plus a distinct — the same set as one join
    per band, and hash-partitioned, never quadratic. Docs with < 3
    tokens are dropped by ``shingle_sets`` (their all-NULL bands never
    equi-join in the oracle either). The band table is persisted before
    the self-join — at 100 TB you'd write the signature table out and
    bucket it by band; persist is the local-mode stand-in for that
    materialization.
    """
    # repartition: the doc corpus is one small input split locally —
    # spread the shingle+md5-heavy stages across all cores. persist(sh):
    # pins the computed shingle arrays so CollapseProject can't re-inline
    # the shingle construction into each of the 8 signature components
    # (8× recompute), and the band self-join reads the cache instead of
    # recomputing the whole pipeline per side.
    corpus = _dup_corpus_spark(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return candidate_pairs(band_digests(shingle_sets(corpus).persist()).persist())


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS tok
      FROM corpus
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / CAST(len(list_distinct(a.tok || b.tok)) AS DOUBLE), 4)
             AS jaccard
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id + {PLANT_SHIFT}
    """,
    tags=("dedup", "jaccard", "ngram"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set Jaccard verification over the known dup pairs
    (original, +PLANT_SHIFT re-key): the verify stage of the dedup pipeline. At
    scale the pair list comes from the LSH candidates, keeping this
    linear in candidates, never quadratic in corpus."""
    corpus = _dup_corpus_spark(spark, sf_dir)
    toks = corpus.select(
        "doc_id", F.array_distinct(shingles(_tokens())).alias("tok")
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("tok_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    pairs = a.join(b, F.col("doc_b") == F.col("doc_a") + PLANT_SHIFT)
    inter = F.size(F.array_intersect("tok_a", "tok_b")).cast("double")
    uni = F.size(F.array_distinct(F.concat("tok_a", "tok_b"))).cast("double")
    return pairs.select(
        "doc_a", "doc_b", F.round(inter / uni, 4).alias("jaccard")
    )


@register(
    "text_quality_docs",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), ' +')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
                AS INTEGER) AS n_uniq_tokens,
           round(CAST(length(regexp_replace(trim(text), ' +', '', 'g')) AS DOUBLE)
                 / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE), 4)
             AS avg_token_len,
           round(CAST(len(list_filter(string_split_regex(trim(text), ' +'),
                            x -> list_contains(['the', 'a', 'of', 'and'], x)))
                      AS DOUBLE)
                 / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE), 4)
             AS stopword_ratio,
           round(CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
                      AS DOUBLE)
                 / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE), 4)
             AS ttr
    FROM documents
    """,
    tags=("text", "quality", "tokens"),
)
def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics: token count, type-token ratio, mean token length,
    stopword ratio — all JVM-side expressions, zero Python in the path."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    char_len = F.length(F.regexp_replace(F.trim(F.col("text")), " +", "")).cast(
        "double"
    )
    stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of", "and"))
    ).cast("double")
    return docs.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        n_uniq.cast("int").alias("n_uniq_tokens"),
        F.round(char_len / n_tokens.cast("double"), 4).alias("avg_token_len"),
        F.round(stop / n_tokens.cast("double"), 4).alias("stopword_ratio"),
        F.round(n_uniq.cast("double") / n_tokens.cast("double"), 4).alias("ttr"),
    )


@register(
    "lang_histogram",
    oracle="""
    SELECT lang, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "langid"),
)
def lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# BPE-ish pretokenizer (GPT-2 style, ASCII-simplified so Java and RE2
# regex engines agree): contractions, space-prefixed letter runs, digit
# runs, punctuation runs, whitespace.
BPE_PAT = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


@register(
    "token_counts_docs",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_PAT.replace("'", "''")}'))
             AS bpe_tokens,
           len(string_split_regex(trim(text), ' +')) AS ws_tokens
    FROM documents
    """,
    tags=("text", "tokens", "bpe"),
)
def token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways a data pipeline needs it: a BPE-ish
    pretokenizer regex (the unit LLM token budgets approximate) and
    whitespace words. Pure regexp_extract_all — JVM-side, no UDF; counts
    verified identical between Spark (Java regex) and DuckDB (RE2) on
    the ASCII-simplified pattern."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PAT), 0)).alias("bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), " +")).alias("ws_tokens"),
    )


@register(
    "profile_documents",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_empty,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY source
    """,
    tags=("text", "profiling", "quality"),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling — the null/empty/size/cardinality audit a
    training-data pipeline runs before ingest, one agg pass per source."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)
        ).alias("n_empty"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# Gopher-style heuristic thresholds (public rule-of-thumb values).
QF_MIN_TOKENS = 5
QF_MAX_TOKENS = 1000
QF_MAX_SYMBOL_RATIO = 0.3
QF_MIN_MEAN_WORD_LEN = 2.0
QF_MAX_MEAN_WORD_LEN = 12.0


def quality_gate(text: Column) -> tuple[Column, Column, Column, Column]:
    """The Gopher-style quality gate over a ``text`` column:
    ``(n_tok, sym_ratio, mean_word_len, keep)`` as unrounded column
    expressions, ``keep`` the boolean conjunction of the QF_* bounds —
    the one definition behind quality_filter_docs and
    corpusq.corpus_to_training_set's stage 1."""
    n_tok = F.size(tokens(text))
    # translate-based count — 9x cheaper than the regex it replaces,
    # same value by definition (functions.text.symbol_count)
    sym_ratio = symbol_count(text).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    )
    mean_wl = F.length(F.replace(text, F.lit(" "), F.lit(""))).cast(
        "double"
    ) / F.greatest(n_tok, F.lit(1))
    keep = (
        (n_tok >= QF_MIN_TOKENS)
        & (n_tok <= QF_MAX_TOKENS)
        & (sym_ratio <= QF_MAX_SYMBOL_RATIO)
        & (mean_wl >= QF_MIN_MEAN_WORD_LEN)
        & (mean_wl <= QF_MAX_MEAN_WORD_LEN)
    )
    return n_tok, sym_ratio, mean_wl, keep


@register(
    "quality_filter_docs",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), ' +')) AS n_tok,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
               / greatest(length(text), 1) AS sym_ratio,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / greatest(len(string_split_regex(trim(text), ' +')), 1)
               AS mean_word_len
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS INTEGER) AS n_tok,
           round(sym_ratio, 4) AS sym_ratio,
           round(mean_word_len, 4) AS mean_word_len,
           CAST(n_tok >= {QF_MIN_TOKENS} AND n_tok <= {QF_MAX_TOKENS}
                AND sym_ratio <= {QF_MAX_SYMBOL_RATIO!r}
                AND mean_word_len >= {QF_MIN_MEAN_WORD_LEN!r}
                AND mean_word_len <= {QF_MAX_MEAN_WORD_LEN!r}
             AS INTEGER) AS keep
    FROM m
    """,
    tags=("text", "quality", "filter", "gopher"),
)
def quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality gate: token-count bounds, symbol
    ratio, mean word length — the pass/fail filter a pretraining corpus
    runs before dedup. All column expressions (no UDF): at 100 TB this
    fuses into the scan and the kept subset streams straight into the
    dedup stage without a second pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok, sym_ratio, mean_wl, keep = quality_gate(F.col("text"))
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tok"),
        F.round(sym_ratio, 4).alias("sym_ratio"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        keep.cast("int").alias("keep"),
    )


SIMHASH_BITS = 16

_TOKH_SQL = (
    "list_transform(list_distinct(string_split_regex(trim(text), ' +')), "
    "t -> ('0x' || substring(md5(t), 1, 4))::INTEGER)"
)


def _simhash_sql() -> str:
    bit_votes = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform(hs, "
        f"h -> ((h // {1 << j}) % 2) * 2 - 1), 'sum') > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return bit_votes


def _simhash16(frame: DataFrame) -> DataFrame:
    """(doc_id, simhash) over ``frame(doc_id, text)`` — the Spark twin
    of ``_TOKH_SQL`` + ``_simhash_sql``: each distinct token hashed to
    16 bits once (one transform, projected as ``hs``), then per bit
    position the majority vote across tokens as a HOF sum over ``hs``."""
    tok_hash = F.transform(
        F.array_distinct(F.split(F.trim(F.col("text")), " +")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int"),
    )
    hs = frame.select("doc_id", tok_hash.alias("hs"))

    def bit_vote(j: int):
        # closure factory: a 2-arg lambda would receive (element, index)
        return lambda h: (F.shiftright(h, j) % 2) * 2 - 1

    simhash = sum(
        F.when(
            F.aggregate(
                F.transform(F.col("hs"), bit_vote(j)),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            > 0,
            1 << j,
        ).otherwise(0)
        for j in range(SIMHASH_BITS)
    )
    return hs.select("doc_id", simhash.cast("int").alias("simhash"))


@register(
    "simhash_text_docs",
    oracle=f"""
    WITH hs_t AS (SELECT doc_id, {_TOKH_SQL} AS hs FROM documents)
    SELECT doc_id,
           CAST({_simhash_sql()} AS INTEGER) AS simhash
    FROM hs_t
    """,
    tags=("dedup", "simhash", "text"),
)
def simhash_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text SimHash (16-bit): hash each distinct token once, then per
    bit position take the majority vote across tokens — near-identical
    documents land on identical (or 1-2-bit-apart) signatures, so dup
    candidates are an equi-join on the signature (or on banded halves
    for Hamming-distance tolerance).

    Plan: token hashes computed once per doc (one transform), 16 bit
    votes as HOF sums over that array — narrow, shuffle-free, fused into
    the scan. Exact copies provably collide (same token set → same
    votes).
    """
    return _simhash16(load_table(spark, sf_dir, "documents"))


@register(
    "simhash_dup_groups",
    oracle=f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    hs_t AS (SELECT doc_id, {_TOKH_SQL} AS hs FROM corpus)
    SELECT CAST({_simhash_sql()} AS INTEGER) AS simhash,
           count(*) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM hs_t
    GROUP BY 1
    HAVING count(*) > 1
    """,
    tags=("dedup", "simhash", "text", "groups"),
)
def simhash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup join: group the (deliberately duplicated) corpus by
    16-bit signature, keep groups with >1 member, min doc_id is the
    keeper — the signature-equality rendering of dedup (vs content-hash
    equality in dedup_exact_docs). One narrow signature pass + one
    groupBy shuffle on a 2-byte key; for Hamming-tolerant matching at
    scale, band the signature and equi-join on (band index, band value)
    as minhash_dup_pairs does.
    """
    return (
        _simhash16(_dup_corpus_spark(spark, sf_dir))
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --- PII redaction (round 3) ------------------------------------------------

# Patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB): no
# backreferences, no lookaround.
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\+1-555-[0-9]{4}"

# The synthetic corpus is PII-free word salad, so the query plants
# deterministic PII derived from doc_id — one email per doc, a phone for
# doc_id % 3 == 0 — then redacts it. Both engines build the identical
# augmented string, so counts and the redacted-text digest are exact.
_AUG_SQL = """
    (text || ' contact user' || CAST(doc_id AS VARCHAR)
          || '@example.com now'
          || CASE WHEN doc_id % 3 = 0
                  THEN ' or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END)
"""


@register(
    "pii_redact_docs",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS s FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(s, '{_PHONE_PAT}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(s, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                              '{_PHONE_PAT}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
    tags=("text", "pii", "redaction", "F1", "F2"),
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training-data hygiene: detect + mask emails and
    phone numbers, returning per-doc match counts and a digest of the
    redacted text (digest, not the text, so the driver compare stays
    small and the full redacted string is still pinned byte-for-byte).

    Pure column expressions (regexp_extract_all / regexp_replace) — at
    100 TB this is a narrow map fused into the scan, zero Python, zero
    shuffle. Spark's regexp_replace is replace-ALL by default; the DuckDB
    twin needs the explicit 'g' flag — a classic cross-engine trap this
    oracle locks down.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com now"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" or call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    s = aug.alias("s")
    redacted = F.regexp_replace(
        F.regexp_replace(s, _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(s, F.lit(_EMAIL_PAT), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(s, F.lit(_PHONE_PAT), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- Gopher-style repetition metrics (round 3) ------------------------------


@register(
    "repetition_metrics_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    idx AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      FROM idx WHERE i <= len(t) - 1
    ),
    counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_gram_frac,
           round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS distinct_gram_frac
    FROM counts GROUP BY doc_id
    """,
    tags=("text", "quality", "repetition", "dedup"),
)
def repetition_metrics_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per doc, the fraction of 2-gram
    mass taken by the single most frequent 2-gram, and the distinct-2-gram
    fraction — the standard signals for boilerplate/looped text that
    quality-gates drop before training.

    Plan: split → inline 2-gram build (``transform`` over an index
    sequence, JVM-side) → explode → two-level aggregate keyed on
    (doc_id, gram) then doc_id. The explode is linear in token count and
    the only shuffle key is doc_id — at 100 TB this is the same shape as
    word-count, with partial aggregation soaking up the per-doc skew.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.round(F.max("c").cast("double") / F.sum("c"), 4).alias("top_gram_frac"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 4).alias(
            "distinct_gram_frac"
        ),
    )


def _ngram_sql(n: int, tok_expr: str = "tok") -> str:
    """DuckDB word n-gram list over a token-array expression — the
    oracle twin of ``functions.text.shingles(tok, n)``."""
    return (
        f"(CASE WHEN len({tok_expr}) >= {n} THEN "
        f"list_transform(range(1, len({tok_expr}) - {n - 1} + 1), "
        f"i -> list_aggregate({tok_expr}[i:i+{n - 1}], 'string_agg', ' ')) "
        "ELSE CAST([] AS VARCHAR[]) END)"
    )


@register(
    "contamination_check",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOK_SQL} AS tok FROM documents
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_distinct({_ngram_sql(5)})) AS g
      FROM toks
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE source = 'src0'
    ), corpus AS (
      SELECT doc_id, g FROM grams WHERE source <> 'src0'
    ), doc_sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_grams
      FROM corpus GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           ds.doc_grams,
           round(CAST(count(*) AS DOUBLE) / ds.doc_grams, 4)
             AS contamination_rate
    FROM corpus c
    JOIN bench b ON b.g = c.g
    JOIN doc_sizes ds ON ds.doc_id = c.doc_id
    GROUP BY c.doc_id, ds.doc_grams
    ORDER BY n_hits DESC, c.doc_id
    LIMIT 100
    """,
    tags=("text", "dedup", "contamination", "ngram"),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training docs leak eval data?

    The held-out "benchmark" is every src0 document; a corpus doc is
    contaminated if it shares word-5-grams with any benchmark doc
    (5-grams: long enough that random same-vocab docs share none —
    measured 2 contaminated docs here vs 400 false hits at 3-grams).
    Reports per-doc distinct-hit count and contamination rate.

    Scale shape: the benchmark gram set is DISTINCT'd and broadcast
    (eval suites are MBs; the corpus is the 100 TB side), so the plan
    is scan → explode → broadcast-hash semi-side join → one groupBy on
    doc_id. No shuffle of the corpus n-gram stream by gram, and the
    grams never leave their scan partition before the hit filter.
    """
    from ..functions.text import shingles, tokens

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(shingles(tokens(F.col("text")), 5))).alias("g"),
    )
    bench = (
        grams.filter(F.col("source") == "src0").select("g").distinct()
    )
    corpus = grams.filter(F.col("source") != "src0").select("doc_id", "g")
    doc_sizes = corpus.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("doc_grams")
    )
    hits = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.join(doc_sizes, "doc_id")
        .select(
            "doc_id",
            "n_hits",
            "doc_grams",
            F.round(
                F.col("n_hits").cast("double") / F.col("doc_grams"), 4
            ).alias("contamination_rate"),
        )
        .orderBy(F.desc("n_hits"), "doc_id")
        .limit(100)
    )


# --- round 3c: training-set assembly ops ------------------------------------
# The last mile of a pretraining data pipeline: pack documents into
# fixed-size sequences, split deterministically, and rebalance the
# source mixture. All pure column/window expressions — at 100 TB each
# is one shuffle (or none), no Python.


@register(
    "sequence_pack_docs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_TOK_SQL}) AS n_tokens FROM documents
    ), c AS (
      SELECT source, doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM t
    )
    SELECT source,
           CAST(cum_before // 256 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           round(sum(n_tokens) / 256.0, 4) AS fill_frac
    FROM c
    GROUP BY source, bin
    ORDER BY source, bin
    """,
    tags=("text", "packing", "window", "training"),
)
def sequence_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed 256-token training
    windows by contiguous greedy packing (a doc starts in the bin where
    its shard's running token count stands — the Megatron-style
    pack-then-chunk layout). Reports per-bin document count and fill.

    Scale shape: packing is PER SOURCE SHARD (window partitioned by
    source, ordered by doc_id), never a global cumsum — a corpus-wide
    ordering would serialize 100 TB through one partition. One hash
    shuffle on source; the cumulative sum is in-partition.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.withColumn("bin", F.expr("cum_before div 256"))
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.round(F.sum("n_tokens") / 256.0, 4).alias("fill_frac"),
        )
        .orderBy("source", "bin")
    )


@register(
    "hash_split_summary",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({_TOK_SQL}) AS n_tokens,
             strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS h
      FROM documents
    ), s AS (
      SELECT CASE WHEN h < 13 THEN 'train'
                  WHEN h < 15 THEN 'val'
                  ELSE 'test' END AS split,
             n_tokens
      FROM d
    ), g AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens
      FROM s GROUP BY split
    )
    SELECT split, n_docs, tokens,
           round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 4) AS doc_frac
    FROM g
    ORDER BY split
    """,
    tags=("text", "split", "hash", "training"),
)
def hash_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (~81/12/6 via the
    first md5 nibble of the doc id): the standard way to split a corpus
    so membership is stable under re-runs, re-shards, and appends —
    no RNG, no global sort, no state. Reports per-split doc/token
    totals and fractions.

    The md5-nibble bucket is engine-independent (hex-char lookup), so
    the oracle replays the exact assignment. Narrow map + one tiny
    groupBy; the split column would normally become a partition column
    on write.
    """
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        (
            F.expr(
                "locate(substr(md5(CAST(doc_id AS STRING)), 1, 1),"
                " '0123456789abcdef') - 1"
            )
        ).alias("h"),
    )
    s = d.select(
        F.when(F.col("h") < 13, "train")
        .when(F.col("h") < 15, "val")
        .otherwise("test")
        .alias("split"),
        "n_tokens",
    )
    g = s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tokens")
    )
    from pyspark.sql.window import Window

    return g.select(
        "split",
        "n_docs",
        "tokens",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(Window.partitionBy()),
            4,
        ).alias("doc_frac"),
    ).orderBy("split")


@register(
    "mixture_weights_lang",
    oracle=f"""
    WITH g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOK_SQL})) AS BIGINT) AS tokens
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, tokens,
           round(CAST(tokens AS DOUBLE) / sum(tokens) OVER (), 4)
             AS token_frac,
           round(0.2 * sum(tokens) OVER () / tokens, 4) AS sample_weight
    FROM g
    ORDER BY lang
    """,
    tags=("text", "mixture", "training"),
)
def mixture_weights_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing: per-language sampling weights that move
    the corpus to a uniform (20% per language) token mixture —
    weight = target_frac / actual_frac. The multiplier a sampling pass
    applies per shard to hit a target pretraining mixture.

    One groupBy over the corpus; the totals are an empty-frame window
    (equivalently a 1-row broadcast). Weights above 1 mean upsample.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("tokens"),
    )
    tot = F.sum("tokens").over(Window.partitionBy())
    return g.select(
        "lang",
        "n_docs",
        "tokens",
        F.round(F.col("tokens").cast("double") / tot, 4).alias("token_frac"),
        F.round(0.2 * tot / F.col("tokens"), 4).alias("sample_weight"),
    ).orderBy("lang")


CHUNK_SIZE = 20  # tokens per training context window
CHUNK_STRIDE = 15  # window start step (CHUNK_SIZE - overlap of 5)


@register(
    "chunk_documents",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, {_TOK_SQL} AS tok, len({_TOK_SQL}) AS n_tok
      FROM documents
    ), ex AS (
      SELECT doc_id, tok, n_tok,
             unnest(range(CAST(floor((n_tok - 1) / {CHUNK_STRIDE}) AS BIGINT) + 1))
               AS chunk_idx
      FROM n
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * {CHUNK_STRIDE} AS chunk_start,
           least({CHUNK_SIZE}, n_tok - chunk_idx * {CHUNK_STRIDE}) AS chunk_len,
           array_to_string(list_slice(tok, chunk_idx * {CHUNK_STRIDE} + 1,
             least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}, n_tok)), ' ')
             AS chunk_text
    FROM ex
    ORDER BY doc_id, chunk_idx
    """,
    tags=("text", "chunking", "training"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: every doc becomes overlapping
    fixed-size token windows (size 20, stride 15 → 5-token overlap) —
    the doc→context-window explode that feeds sequence packing. Chunk
    starts are ``0, stride, 2·stride, …`` while they fall inside the
    doc; the tail chunk is short rather than dropped.

    Scale: a pure narrow map — ``sequence``+``explode``+``slice`` per
    row, zero shuffles, zero Python; output rows ≈ corpus_tokens/stride
    regardless of document skew (a 1 GB doc becomes many rows, not one
    giant one — exactly what downstream shuffles need).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens()
    n_tok = F.size(tok)
    n_chunks = F.floor((n_tok - 1) / CHUNK_STRIDE).cast("long") + 1
    ex = docs.select(
        "doc_id",
        tok.alias("tok"),
        n_tok.alias("n_tok"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return ex.select(
        "doc_id",
        "chunk_idx",
        start.alias("chunk_start"),
        F.least(F.lit(CHUNK_SIZE), F.col("n_tok") - start).alias("chunk_len"),
        F.array_join(
            F.slice(F.col("tok"), start + 1, F.lit(CHUNK_SIZE)), " "
        ).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
    ), tfc AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), dfc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY term
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
    ), ranked AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             t.tf * (n.n_docs / d.df) AS score,
             row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf * (n.n_docs / d.df) DESC, t.term
             ) AS rank
      FROM tfc t JOIN dfc d USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df,
           round(score, 4) AS tfidf
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    tags=("text", "tfidf", "ranking", "training"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword/salience
    extraction a corpus-indexing pass runs. idf is the *linear* ratio
    ``N/df`` (not ``ln``): IEEE division is correctly rounded and
    bit-identical across engines, so score ordering and the rounded
    display value can't drift between Spark and the DuckDB oracle the
    way last-ulp ``ln`` differences could at rank boundaries.

    Scale: two hash shuffles (doc-term counts, then df over terms); the
    df table is vocabulary-sized so the join back is a broadcast at any
    corpus size with a bounded vocab; top-3 per doc is a rank window
    partitioned by doc_id — no global sort.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tfc = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    score = F.col("tf") * (F.col("n_docs") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tfc.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            "df",
            F.round("score", 4).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


@register(
    "unigram_logprob_docs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
    ), counts AS (
      SELECT term, count(*) AS c FROM tok GROUP BY term
    ), probs AS (
      SELECT term,
             CAST(round(ln((c + 1.0) / (sum(c) OVER () + count(*) OVER ()))
               * 1000000) AS BIGINT) AS lp_micro
      FROM counts
    ), scored AS (
      SELECT t.doc_id, CAST(sum(p.lp_micro) AS BIGINT) AS lp_micro_sum,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM tok t JOIN probs p USING (term) GROUP BY t.doc_id
    )
    SELECT doc_id, n_tok,
           round(-lp_micro_sum / 1000000.0 / n_tok, 4) AS avg_neg_logprob
    FROM scored ORDER BY doc_id
    """,
    tags=("text", "lm", "quality", "training"),
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: train Laplace-smoothed
    token probabilities on the corpus itself, then score every document
    by mean negative log-probability — the cheap end of the CCNet-style
    "perplexity filter" family (low = typical text, high = outlier).

    Determinism across engines: per-token logprobs are quantized to
    integer micro-nats BEFORE the per-doc sum, so the aggregation is
    order-independent integer addition (a raw double sum would depend
    on Spark's partial-agg order). ``ln`` is evaluated once per vocab
    entry, not per token.

    Scale: token counts are a map-side-combinable groupBy; the prob
    table is vocabulary-sized → broadcast join onto the token stream;
    the per-doc score is one more hash agg. Three shuffles total, all
    partial-aggregated.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy()
    probs = counts.select(
        "term",
        F.round(
            F.log(
                (F.col("c") + 1.0)
                / (F.sum("c").over(w) + F.count(F.lit(1)).over(w))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        tok.join(F.broadcast(probs), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("lp_micro").alias("lp_micro_sum"),
            F.count(F.lit(1)).alias("n_tok"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.round(
                -F.col("lp_micro_sum") / 1_000_000.0 / F.col("n_tok"), 4
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


# Bigram stream as SQL: adjacent token pairs, 1-indexed; DuckDB
# range(a, b) is [a, b) so i runs 1..len-1 — exactly the n-1 bigrams.
_BIGRAM_SQL = (
    f"(CASE WHEN len({_TOK_SQL}) >= 2 THEN "
    f"list_transform(range(1, len({_TOK_SQL})), "
    f"i -> {_TOK_SQL}[i] || ' ' || {_TOK_SQL}[i+1]) "
    "ELSE CAST([] AS VARCHAR[]) END)"
)


@register(
    "bigram_logprob_docs",
    oracle=f"""
    WITH big AS (
      SELECT doc_id, unnest({_BIGRAM_SQL}) AS bigram FROM documents
    ), tfb AS (
      SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS k
      FROM big GROUP BY doc_id, bigram
    ), bc AS (
      SELECT bigram, CAST(sum(k) AS BIGINT) AS c FROM tfb GROUP BY bigram
    ), ctx AS (
      SELECT string_split(bigram, ' ')[1] AS w1, CAST(sum(c) AS BIGINT) AS cc
      FROM bc GROUP BY w1
    ), vocab AS (
      SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
      FROM (SELECT unnest({_TOK_SQL}) AS term FROM documents)
    ), probs AS (
      SELECT b.bigram,
             CAST(round(ln((b.c + 1.0) / (x.cc + vocab.v)) * 1000000)
               AS BIGINT) AS lp_micro
      FROM bc b
      JOIN ctx x ON string_split(b.bigram, ' ')[1] = x.w1
      CROSS JOIN vocab
    ), scored AS (
      SELECT t.doc_id, CAST(sum(t.k * p.lp_micro) AS BIGINT) AS lp_micro_sum,
             CAST(sum(t.k) AS BIGINT) AS n_bigrams
      FROM tfb t JOIN probs p USING (bigram) GROUP BY t.doc_id
    )
    SELECT doc_id, n_bigrams,
           round(-lp_micro_sum / 1000000.0 / n_bigrams, 4) AS avg_neg_logprob
    FROM scored ORDER BY doc_id
    """,
    tags=("text", "lm", "quality", "training"),
)
def bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score — the next rung above
    unigram_logprob_docs on the CCNet-style perplexity-filter ladder:
    train Laplace-smoothed bigram probabilities P(w2|w1) =
    (c(w1 w2)+1)/(c(w1 ·)+V) on the corpus itself, then score every
    document by mean negative bigram log-probability. Repetitive
    machine text scores low (its bigrams dominate the model), fluent
    but unusual text scores mid, shuffled-word salad scores high even
    when its unigrams are common — the case the unigram filter misses.

    Determinism across engines (same contract as unigram_logprob_docs):
    per-bigram logprobs are quantized to integer micro-nats BEFORE the
    weighted per-doc sum, so aggregation is order-independent integer
    addition; ``ln`` is evaluated once per distinct bigram.

    Scale (r16 rework — the r14 plan recomputed the explode+agg chain
    THREE times and let the optimizer BROADCAST the corpus-sized
    doc×bigram table, the probe's worst decade ratio at 8.46): the
    exploded bigram stream is shuffled ONCE — ``repartition(bigram)``
    — and every later step lives on that partitioning: the
    (doc_id, bigram) agg (bigram ⊂ keys, no exchange), the global
    bigram counts, and the probs→tfb join (both sides co-partitioned,
    hinted shuffle_hash so the planner can never elect to broadcast
    the big side). The materialized tfb is columnar-cached via
    bounded_persist (one live relation per site, previous invocation's
    unpersisted) so the bc/probs branch and the final join read it
    instead of re-running the corpus scan; only vocabulary-sized
    tables (context counts, V) are broadcast.
    """
    from ..session import bounded_persist

    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens()
    bigrams = F.zip_with(
        F.slice(tok, 1, F.greatest(F.size(tok) - 1, F.lit(0))),
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    big = docs.filter(F.size(tok) >= 2).select(
        "doc_id", F.explode(bigrams).alias("bigram")
    )
    tfb = bounded_persist(
        "bigram_logprob_docs.tfb",
        big.repartition("bigram")
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("k")),
    )
    bc = tfb.groupBy("bigram").agg(F.sum("k").alias("c"))
    ctx = bc.groupBy(
        F.split(F.col("bigram"), " ", 2).getItem(0).alias("w1")
    ).agg(F.sum("c").alias("cc"))
    vocab = (
        docs.select(F.explode(tok).alias("term"))
        .agg(F.countDistinct("term").alias("v"))
    )
    probs = (
        bc.withColumn("w1", F.split(F.col("bigram"), " ", 2).getItem(0))
        .join(F.broadcast(ctx), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("cc") + F.col("v")))
                * 1_000_000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        tfb.join(probs.hint("shuffle_hash"), "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("k") * F.col("lp_micro")).alias("lp_micro_sum"),
            F.sum("k").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -F.col("lp_micro_sum") / 1_000_000.0 / F.col("n_bigrams"), 4
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "stratified_sample_docs",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
               AS INTEGER) AS h
      FROM documents
    ), g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM s GROUP BY lang
    ), r AS (
      SELECT lang, n_docs,
             CAST(min(n_docs) OVER () AS DOUBLE) / n_docs AS rate
      FROM g
    )
    SELECT s.lang, r.n_docs, round(r.rate, 4) AS rate,
           CAST(sum(CASE WHEN s.h < r.rate * 65536 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_sampled
    FROM s JOIN r USING (lang)
    GROUP BY s.lang, r.n_docs, r.rate
    ORDER BY s.lang
    """,
    tags=("text", "sampling", "training"),
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampler: rebalance languages to the
    smallest stratum by keeping doc_id iff the first 16 bits of
    ``md5(doc_id)`` fall under ``rate·2^16`` with ``rate = n_min/n_lang``.
    Unlike ``sample()``/rand(), membership is a pure function of the key
    — re-runs, retries, and appends select the SAME rows (the property a
    reproducible training-data pipeline needs), and both engines agree
    exactly because the decision is an integer-vs-IEEE-ratio compare.

    Scale: one groupBy for strata sizes (5 rows), broadcast back, one
    final agg — the hash test itself is a narrow map, so the sampled
    subset never materializes through a shuffle.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "lang",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        .alias("h"),
    )
    g = s.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    r = g.select(
        "lang",
        "n_docs",
        (
            F.min("n_docs").over(Window.partitionBy()).cast("double")
            / F.col("n_docs")
        ).alias("rate"),
    )
    return (
        s.join(F.broadcast(r), "lang")
        .groupBy("lang", "n_docs", "rate")
        .agg(
            F.sum(
                F.when(F.col("h") < F.col("rate") * 65536, 1).otherwise(0)
            ).alias("n_sampled")
        )
        .select(
            "lang", "n_docs", F.round("rate", 4).alias("rate"), "n_sampled"
        )
        .orderBy("lang")
    )


@register(
    "quality_decile_stats",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             CAST(round(CAST(len(list_distinct({_TOK_SQL})) AS DOUBLE)
               / len({_TOK_SQL}) * 10000) AS BIGINT) AS ttr_bp
      FROM documents
    ), d AS (
      SELECT doc_id, ttr_bp,
             ntile(10) OVER (ORDER BY ttr_bp DESC, doc_id) AS decile
      FROM q
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(ttr_bp) AS BIGINT) AS min_ttr_bp,
           CAST(max(ttr_bp) AS BIGINT) AS max_ttr_bp,
           round(sum(ttr_bp) / 10000.0 / count(*), 4) AS avg_ttr
    FROM d GROUP BY decile ORDER BY decile
    """,
    tags=("text", "quality", "ranking"),
)
def quality_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-bucket the corpus by a quality signal (type-token ratio)
    — the "keep the top-N% by quality score" selection step, reported as
    per-decile stats a curation run eyeballs before picking a cutoff.

    Determinism: ttr is quantized to integer basis points BEFORE
    ranking and averaging, so per-decile sums are order-independent
    integer adds and the ntile order (`ttr_bp DESC, doc_id`) is total.
    Scale note: global ntile is a single-partition sort of (score, id)
    pairs — fine to ~10^9 rows of 12-byte pairs; beyond that swap in
    approx-percentile cutpoints (see approx_percentile_value) and
    bucket by range instead.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    ttr_bp = (
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks)
            * 10000
        )
        .cast("long")
        .alias("ttr_bp")
    )
    q = docs.select("doc_id", ttr_bp)
    d = q.select(
        "ttr_bp",
        F.ntile(10)
        .over(Window.orderBy(F.desc("ttr_bp"), "doc_id"))
        .alias("decile"),
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ttr_bp").alias("min_ttr_bp"),
            F.max("ttr_bp").alias("max_ttr_bp"),
            F.round(F.sum("ttr_bp") / 10000.0 / F.count(F.lit(1)), 4).alias(
                "avg_ttr"
            ),
        )
        .orderBy("decile")
    )


# --- round-4: BM25 keyword search ------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_search_docs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len({_TOK_SQL}) AS DOUBLE) AS dl FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
    ), qt AS (
      SELECT unnest(['spark', 'join', 'window']) AS term
    ), tf AS (
      SELECT t.doc_id, t.term, CAST(count(*) AS DOUBLE) AS tf
      FROM tok t JOIN qt USING (term) GROUP BY 1, 2
    ), dfc AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), contrib AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((s.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
               * 1000000) AS BIGINT) AS c_micro
      FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
    ), scored AS (
      SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
      FROM contrib GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, score_micro,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank,
           round(score_micro / 1000000.0, 4) AS bm25
    FROM ranked WHERE rank <= 20 ORDER BY rank
    """,
    tags=("text", "search", "bm25", "ranking", "training"),
)
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: top-20 documents for a 3-term query
    (k1=1.2, b=0.75) — the retrieval scorer a corpus index serves.
    Documents containing none of the query terms score nothing and are
    excluded (inner-join semantics, like a posting-list intersection).

    Determinism across engines: per-(doc, term) contributions are
    quantized to integer micro-units BEFORE the per-doc sum (same trick
    as unigram_logprob_docs), so the final score is order-independent
    integer addition and the top-20 sort key is an integer.

    Scale: tf is a hash agg over the (tiny) query-filtered token stream —
    the broadcast join against the 3-term query set prunes the exploded
    tokens before any shuffle; df and the corpus stats are broadcast
    1-row/3-row sides; ranking is TakeOrderedAndProject (limit 20), no
    global sort.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        [(t,) for t in _BM25_TERMS], "term string"
    )
    dl = docs.select(
        "doc_id", F.size(_tokens()).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = (
        tok.join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfnorm = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        tf.join(F.broadcast(dfc), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * tfnorm * 1_000_000).cast("long").alias("c_micro"),
        )
    )
    w = Window.orderBy(F.desc("score_micro"), "doc_id")
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "doc_id",
            "rank",
            F.round(F.col("score_micro") / 1_000_000.0, 4).alias("bm25"),
        )
        .orderBy("rank")
    )


@register(
    "grouped_minhash_union",
    oracle=f"""
    WITH sh_t AS (SELECT lang, {_SHINGLE_SQL} AS sh FROM documents),
    hst AS (SELECT lang, {_HS_SQL} AS hs FROM sh_t),
    sigs AS (
      SELECT lang,
             {_sig_sql(0)} AS s0, {_sig_sql(1)} AS s1,
             {_sig_sql(2)} AS s2, {_sig_sql(3)} AS s3
      FROM hst
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(s0) AS sig0, min(s1) AS sig1,
           min(s2) AS sig2, min(s3) AS sig3
    FROM sigs GROUP BY lang
    """,
    tags=("dedup", "minhash", "sketch", "mergeable"),
)
def grouped_minhash_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MERGED MinHash signature: elementwise min over the
    member documents' signatures — which, by the min-hash identity,
    IS the signature of the UNION of their shingle sets. This is the
    property that makes MinHash an algebraic aggregate: partitions
    combine local mins map-side, groups merge without ever re-reading
    members, and a 100 TB corpus rolls up to one signature row per
    group (per-source/per-crawl similarity, incremental sketch
    maintenance) in a single shuffle of k hashes per group.

    Docs with < 3 tokens have no shingles → NULL components, skipped by
    min on both engines; n_docs still counts them.

    Plan note: the oracle states the textbook per-doc-then-merge form;
    the engine exploits min's associativity to skip the per-doc stage
    entirely — explode shingles once, hash each occurrence once, and
    take min(md5(seed|shingle)) per group directly (min of per-doc mins
    == min over the group's shingles). One shingle pass instead of one
    per signature component, partial mins map-side, and the shuffle
    carries only k hashes per (lang, partition).
    """
    docs = load_table(spark, sf_dir, "documents")
    # explode the PRE-HASHED array: the md5 base hash evaluates inside
    # the generator input (once per shingle); the per-component mixes
    # are integer arithmetic on the exploded column
    sh = docs.select(
        "lang", F.explode(shingle_hashes(shingles(_tokens()))).alias("h")
    )
    sigs = sh.groupBy("lang").agg(
        *[
            F.min(_mix(F.col("h"), i)).alias(f"sig{i}")
            for i in range(4)
        ]
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return counts.join(sigs, "lang", "left").select(
        "lang", "n_docs", "sig0", "sig1", "sig2", "sig3"
    )


@register(
    "anti_join_docs_quarantine",
    oracle="""
    WITH flags AS (
      SELECT doc_id, lang,
             (length(trim(text)) >= 120
              AND len(string_split_regex(trim(text), ' +')) >= 25) AS ok
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_quarantined,
           min(doc_id) AS sample_doc_id
    FROM flags WHERE NOT ok
    GROUP BY lang
    """,
    tags=("filter", "anti-join", "quality", "quarantine"),
)
def anti_join_docs_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine report: documents failing the minimum-quality gate
    (≥120 chars and ≥25 tokens — the cheap pre-filter every training-data
    pipeline runs before expensive scoring), rendered as the ANTI-JOIN of
    the corpus against its passing subset — the actual production shape,
    where 'passing' is a separately-materialized table and quarantine =
    corpus ⟕̸ passing. Catalyst compiles the self-anti-join on doc_id
    down to a single scan + broadcast-anti here; at 100 TB with a
    materialized passing table it's one broadcast/bucketed anti-join,
    never a full shuffle of the corpus.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    passing = docs.filter(
        (F.length(F.trim("text")) >= 120) & (F.size(_tokens()) >= 25)
    ).select("doc_id")
    quarantined = docs.join(passing, "doc_id", "left_anti")
    return quarantined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_quarantined"),
        F.min("doc_id").alias("sample_doc_id"),
    )


@register(
    "langid_ngram_predict",
    oracle="""
    WITH tg AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, length(lower(text)) - 1),
               i -> substr(lower(text), CAST(i AS INTEGER), 3))) AS tgs
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, lang, unnest(tgs) AS t FROM tg
    ),
    profile AS (
      SELECT lang, t FROM (
        SELECT lang, t, count(*) AS n,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, t) AS rn
        FROM exploded
        WHERE doc_id % 10 = 0
        GROUP BY lang, t
      ) WHERE rn <= 30
    ),
    scores AS (
      SELECT e.doc_id, p.lang AS cand, count(*) AS overlap
      FROM exploded e JOIN profile p ON e.t = p.t
      GROUP BY e.doc_id, p.lang
    ),
    best AS (
      SELECT doc_id, cand AS predicted FROM (
        SELECT doc_id, cand,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY overlap DESC, cand) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT d.lang AS actual_lang,
           coalesce(b.predicted, 'unknown') AS predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    GROUP BY actual_lang, predicted_lang
    """,
    tags=("text", "langid", "ngram", "classifier"),
)
def langid_ngram_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification — the classic n-gram
    heuristic (Cavnar-Trenkle profile overlap), rendered as a confusion
    matrix against the corpus's labeled ``lang`` column.

    1. PROFILE: per language, the top-30 most frequent distinct-per-doc
       character trigrams (count DESC, trigram tiebreak), built from a
       deterministic 10% sample (doc_id % 10 = 0) — profiles are
       frequency rankings, they converge on a sample; scanning the full
       corpus to build them is wasted I/O. 5 langs × 30 trigrams →
       pivoted to ONE row of per-lang arrays, BROADCAST.
    2. PREDICT: per doc, overlap(lang) = size(array_intersect(doc's
       distinct trigrams, lang profile)) — a NARROW map against the
       broadcast row, no explode, no shuffle of the corpus (the first
       rendering exploded every doc into ~10³ trigram rows and shuffled
       them twice; at sf0.1 that was 16 s vs ~2 s for this plan — the
       explode was the whole cost). Argmax via greatest() over
       (overlap, lang-rank) structs, lang-ascending tiebreak.
    3. REPORT: actual × predicted counts; zero-overlap docs predict
       'unknown'.

    Scale: profile pass shuffles only the sampled (lang, trigram)
    counts; the scoring pass is embarrassingly parallel — the shape
    fastText-style langid runs at 100 TB.
    """
    LANGS = ["de", "en", "es", "fr", "zh"]
    # repartition first: the corpus parquet is 1-2 input splits locally,
    # which would serialize the trigram build onto 1-2 cores (same fix
    # as minhash_dedup_pipeline; a cluster reader's own splits make
    # this a no-op at scale)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # O(n) trigram construction: split to a char array ONCE, then zip
    # three shifted slices. The textbook transform(sequence, i ->
    # substring(text, i, 3)) is O(n²) per doc — UTF-8 substring scans
    # from the string start each call (measured 3× slower end-to-end at
    # sf0.1). The single-element-array transform is a LET binding:
    # lambda variables are bound VALUES, the one construct Catalyst
    # does not re-inline — referencing `cs` five times below evaluates
    # split(lower(text)) once, where the spelled-out form re-ran it per
    # reference (measured 3.3 s → ~1.9 s warm at sf0.1, round 7). The
    # oracle keeps the textbook form; values are identical.
    tgs = docs.select(
        "doc_id",
        "lang",
        F.array_distinct(
            F.expr(
                "transform(array(split(lower(text), '')), cs ->"
                "  zip_with("
                "    zip_with("
                "      slice(cs, 1, greatest(size(cs) - 2, 0)),"
                "      slice(cs, 2, greatest(size(cs) - 2, 0)),"
                "      (x, y) -> concat(x, y)),"
                "    slice(cs, 3, greatest(size(cs) - 2, 0)),"
                "    (xy, z) -> concat(xy, z))"
                ")[0]"
            )
        ).alias("tgs"),
    )

    from pyspark.sql.window import Window as W

    w_prof = W.partitionBy("lang").orderBy(F.desc("n"), "t")
    profile = (
        tgs.filter(F.col("doc_id") % 10 == 0)
        .select("lang", F.explode("tgs").alias("t"))
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= 30)
    )
    # one row: a trigram array per language (order irrelevant to
    # array_intersect), broadcast to every task
    prof_row = profile.groupBy().pivot("lang", LANGS).agg(
        F.collect_list("t")
    )

    empty = F.expr("cast(array() as array<string>)")
    # prefilter once against the UNION of all profiles (≤150 trigrams):
    # the expensive intersect over the doc's ~10³ trigrams happens ONCE,
    # and the per-language intersects run on the ≤150 survivors
    prof = {lang: F.coalesce(F.col(lang), empty) for lang in LANGS}
    union_prof = F.array_distinct(
        F.concat(*[prof[lang] for lang in LANGS])
    )
    hits = F.array_intersect("tgs", union_prof)
    cands = [
        F.struct(
            F.size(F.array_intersect(hits, prof[lang])).alias("o"),
            F.lit(len(LANGS) - 1 - i).alias("rd"),  # tie → smaller lang
        )
        for i, lang in enumerate(LANGS)
    ]
    best = F.greatest(*cands)
    predicted = F.when(
        best["o"] > 0,
        F.element_at(
            F.array(*[F.lit(lang) for lang in LANGS]),
            F.lit(len(LANGS)) - best["rd"],
        ),
    ).otherwise(F.lit("unknown"))
    return (
        tgs.crossJoin(F.broadcast(prof_row))
        .select(
            F.col("lang").alias("actual_lang"),
            predicted.alias("predicted_lang"),
        )
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


NEAR_BITS = 60  # simhash width for hamming-banded near-dup (widened
# from 32 in round 7: 4 bands × up to 15 bits need 60 signature bits,
# and the wider sketch also pushes random collisions further out; 60 =
# 15 md5 hex chars, the engine-safe int64 width both engines share)
NEAR_BANDS = 4
# Spark-side band width ladder (target ~32 docs per band bucket, cap
# 15 so 4 bands fit the signature). Width affects COST ONLY: banded
# recall for hamming <= NEAR_BANDS-1 is exact by pigeonhole at ANY
# width, and the hamming verify is exact — so the ORACLE can keep a
# static 15-bit split while the engine adapts width to corpus size
# (the same fixed-capacity lesson as SemDeDup cells and the
# hyperplane-LSH bands, but here with no oracle ladder needed).
NEAR_MIN_BAND_BITS = 8
NEAR_MAX_BAND_BITS = 15
NEAR_TARGET_BUCKET = 32


def near_band_bits(n: int) -> int:
    from .vectorq import band_bits_ladder

    return band_bits_ladder(
        n, NEAR_MIN_BAND_BITS, NEAR_MAX_BAND_BITS, NEAR_TARGET_BUCKET
    )


def _near_bands_sql() -> str:
    """Oracle bands CTE body: static max-width split derived from the
    same constants as the engine (one source — review r7d; width
    affects candidate COUNT, not the verified result set)."""
    w = NEAR_MAX_BAND_BITS
    return f"""
      SELECT doc_id, simhash, t.b AS b,
             (simhash >> (CAST(t.b AS INTEGER) * {w})) & {(1 << w) - 1}
               AS band_val
      FROM sig, range({NEAR_BANDS}) t(b)
    """


def _near_sig_sql() -> str:
    """60-bit token hashes ('0x'||md5[:15]) voted per bit — the wide
    twin of _simhash_sql (16-bit signatures coincidentally collide at
    corpus sizes > ~10³; 60 bits push random collisions out and give
    the 4 bands room to widen)."""
    tokh = (
        "list_transform(list_distinct(string_split_regex(trim(text), ' +')), "
        "t -> ('0x' || substring(md5(t), 1, 15))::BIGINT)"
    )
    votes = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform({tokh}, "
        f"h -> ((h // {1 << j}) % 2) * 2 - 1), 'sum') > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(NEAR_BITS)
    )
    return votes


def _near_sig_spark(corpus: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash over distinct whitespace
    tokens, each hashed to a 60-bit int via the first 15 md5 hex chars
    (identical in the DuckDB twin, ``_near_sig_sql``).

    ONE aggregate pass, not NEAR_BITS: the per-bit formulation
    (NEAR_BITS separate aggregate() expressions over ``hs``) re-inlines
    the md5 token-hash transform into every vote after CollapseProject
    — HOF bodies get no CSE — so the md5s ran once PER BIT per row
    (measured 7.0 s → 2.9 s at sf0.01 for the whole edge pipeline back
    when the width was 32). Here the token hashes are folded once into
    a NEAR_BITS-slot vote array (zip_with inside aggregate), then the
    votes are reduced to the signature; ``hs`` appears once in the
    expression tree, so the hashing runs once. Bit-identical output to
    the per-bit form (verified) and to the SQL twin."""
    tok_hash = F.transform(
        F.array_distinct(F.split(F.trim(F.col("text")), " +")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
    )
    hs = corpus.select("doc_id", tok_hash.alias("hs"))
    # SQL form: the Python shiftright/shiftleft wrappers require literal
    # bit counts; the SQL expressions accept the lambda-bound j.
    sim_expr = f"""
    aggregate(
      zip_with(
        aggregate(hs, cast(array_repeat(0L, {NEAR_BITS}) as array<bigint>),
          (acc, h) -> zip_with(acc,
            transform(sequence(0, {NEAR_BITS - 1}),
                      j -> (shiftright(h, j) % 2) * 2 - 1),
            (a, b) -> a + b)),
        transform(sequence(0, {NEAR_BITS - 1}), j -> shiftleft(1L, j)),
        (v, p) -> IF(v > 0, p, 0L)),
      0L, (acc2, x) -> acc2 + x)
    """
    return hs.select("doc_id", F.expr(sim_expr).alias("simhash"))


def _near_cand_pairs(
    sig: DataFrame,
    max_hamming: int,
    band_bits: int,
    n_bands: int = NEAR_BANDS,
) -> DataFrame:
    """Banded candidate generation + hamming verify: ``n_bands`` bands
    of ``band_bits`` each, per-band equi-self-join, bit_count(XOR)
    filter BEFORE the pair distinct (hamming is a function of the
    pair's signatures, so the distinct set is identical either way —
    filtering first shrinks the distinct's shuffle to the true
    near-pairs instead of every band collision). Callers derive the
    width from a row count they already observe (near_band_bits for
    the 4-band text simhash: a fixed 8-bit band is 256 buckets forever
    — O(N²/256) candidates at scale; the image dHash path derives
    hmax+1 bands of 60 // (hmax+1) bits). Width never changes RESULTS
    — pigeonhole recall for hamming <= n_bands - 1 holds at any width
    and the verify is exact — so the oracle's static-width split stays
    equivalent. Caller must keep n_bands × band_bits <= NEAR_BITS — a
    band shifted past the top bit reads all-zeros and buckets
    EVERYTHING together (guarded below). Returns
    (doc_a, doc_b, hamming:int), doc_a < doc_b. ``sig`` should be
    materialized: both join sides read it."""
    if n_bands * band_bits > NEAR_BITS:
        raise ValueError(
            f"{n_bands} bands x {band_bits} bits exceed the "
            f"{NEAR_BITS}-bit signature"
        )
    mask = (1 << band_bits) - 1
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("b"),
    ).withColumn(
        "band_val", F.expr(f"shiftright(simhash, b * {band_bits}) & {mask}")
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _signature_components(sig: DataFrame, bands_for) -> DataFrame:
    """(node, component) near-dup clusters over a materialized
    ``sig(doc_id, simhash)``, computed on the signature quotient:

    1. identical signatures collapse to one rep (min doc_id) in one
       groupBy — the hamming-0 bulk, and exactly the skew that makes
       band buckets quadratic; the rep count rides that checkpoint job
       as an Observation;
    2. ``_near_cand_pairs(reps, *bands_for(n_reps))`` bands and
       verifies distinct signatures only (``bands_for`` maps the rep
       count to ``(max_hamming, band_bits, n_bands)``);
    3. connected components run on the cross-rep edges only;
    4. labels re-expand to documents by a left join: an n ≥ 2 group
       with no edge is its own component, labelled by its rep, and an
       edgeless singleton is dropped.

    Exact, not an approximation: hamming is a function of the signature
    pair, so a cross-group doc edge exists iff its rep edge does, and
    an n ≥ 2 group is connected at hamming 0. Feeding such groups to
    the solver as rep self-loops adds only edges — at sf1 image scale
    they pushed the edge set past the local union-find cap into the
    distributed loop (queries/multimodalq.py's 285 s diagnosis)."""
    from ..operators.components import connected_components

    gobs = Observation()
    groups = (
        sig.groupBy("simhash")
        .agg(F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n"))
        .observe(gobs, F.count(F.lit(1)).alias("n_reps"))
        .localCheckpoint(eager=True)
    )
    rep_pairs = _near_cand_pairs(
        groups.select(F.col("rep").alias("doc_id"), "simhash"),
        *bands_for(gobs.get["n_reps"]),
    ).select("doc_a", "doc_b")
    rep_labels = connected_components(
        rep_pairs, src="doc_a", dst="doc_b", distinct_pairs=True
    )
    return (
        sig.join(groups.select("simhash", "rep", "n"), "simhash")
        .join(rep_labels, F.col("rep") == F.col("node"), "left")
        .filter(F.col("component").isNotNull() | (F.col("n") >= 2))
        .select(
            F.col("doc_id").alias("node"),
            F.coalesce("component", F.col("rep")).alias("component"),
        )
    )


@register(
    "simhash_near_pairs",
    oracle=f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    sig AS (
      SELECT doc_id, CAST({_near_sig_sql()} AS BIGINT) AS simhash
      FROM corpus
    ),
    bands AS ({_near_bands_sql()}),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cands
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
    tags=("dedup", "simhash", "lsh", "hamming", "banded"),
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-tolerant SimHash near-dup pairs — the banded upgrade the
    simhash_dup_groups docstring points at: a 60-bit signature splits
    into 4 bands whose width ADAPTS TO CORPUS SIZE (near_band_bits,
    8-15 bits; round 7 closed this last fixed-capacity LSH); by
    pigeonhole, any pair within Hamming distance 3 differs in at most
    3 bands, so it shares at least one band unchanged and the per-band
    equi-self-join generates ALL such pairs at EVERY width (exact
    recall, property-tested across the ladder); a bit_count(XOR)
    verify keeps pairs at distance ≤ 3.

    Scale shape (same discipline as minhash_dup_pairs): candidate
    generation is 4 equi-joins on (band, value) — never an all-pairs
    product; verification is O(candidates) integer XOR. Band-bucket
    size drives cost, and the adaptive width keeps the mean bucket
    ~NEAR_TARGET_BUCKET docs as N grows; raising the hamming tolerance
    is the remaining reason to add BANDS (pigeonhole needs
    max_hamming + 1 of them).
    """
    corpus = _dup_corpus_spark(spark, sf_dir)
    # the band width's row count rides the checkpoint job
    obs = Observation()
    sig = (
        _near_sig_spark(corpus)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return _near_cand_pairs(sig, 3, near_band_bits(obs.get["n"]))


@register(
    "simhash_near_components",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_DUP_CORPUS_SQL}),
    sig AS (
      SELECT doc_id, CAST({_near_sig_sql()} AS BIGINT) AS simhash
      FROM corpus
    ),
    bands AS ({_near_bands_sql()}),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cands
      WHERE bit_count(xor(sig_a, sig_b)) <= 1
    ),
    -- MATERIALIZED: DuckDB inlines CTEs by default, so the recursive
    -- reach join would re-evaluate the 32xmd5 signature pipeline on
    -- every fixpoint iteration (measured 19.5 s -> 0.9 s at sf0.01).
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
    """,
    tags=("dedup", "simhash", "components", "iterative", "clustering"),
)
def simhash_near_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CLUSTERS: the hamming ≤ 1 subset of
    simhash_near_pairs' banded candidates becomes the edge list, and the
    shared connected-components operator (operators/components.py,
    iterative min-label propagation with O(1)-deep lineage) assigns each
    document its canonical group — min doc_id per component is the
    keeper, completing the candidate→verify→cluster→canonicalize dedup
    pipeline for the simhash path exactly as dedup_components does for
    the embedding path. Hamming ≤ 1 (not 3) for the clustering stage:
    transitive closure compounds tolerance (a ≤3 chain of length k
    drifts k·3 bits), so the edge set for clustering is kept strict
    while pair REPORTING (simhash_near_pairs) stays at ≤ 3.

    Scale (round 7): everything after the signature pass runs on the
    signature quotient (_signature_components: one groupBy collapses
    identical signatures, then banding, verify and components touch
    distinct signatures only, at the 4-band width near_band_bits
    derives from the rep count). Measured at sf0.1: 1.9M doc pairs → a
    few hundred rep pairs; 7.2 s → ~2 s.
    """
    corpus = _dup_corpus_spark(spark, sf_dir)
    sig = _near_sig_spark(corpus).localCheckpoint(eager=True)
    return _signature_components(
        sig, lambda n_reps: (1, near_band_bits(n_reps), NEAR_BANDS)
    )


# --- Span-level repeated-substring detection (round 10) ---------------------
#
# Doc-level (exact/minhash/simhash) and chunk-level dedup miss the third
# regime: BOILERPLATE — short spans (license headers, nav text, ToS
# lines) duplicated across otherwise-distinct documents. Deduplicating
# repeated substrings is a first-class training-data op (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499 — their ExactSubstr variant); the suffix-array build
# used there is not distribution-friendly, so the Spark-native shape is
# the k-gram inventory: every token position emits its k-gram, grams
# repeated across >=2 DISTINCT docs mark their windows, and per-doc
# overlapping windows merge into maximal spans (islands over positions).
#
# 100 TB plan shape: ONE shuffle of the gram inventory keyed by the
# gram (exactly the minhash shingle topology), then ONE doc-keyed
# window for the island merge. The dup-gram filter is agg+join, NOT
# collect_list-per-gram: a hot boilerplate gram occurs in millions of
# docs, so any per-gram row accumulation is the skew trap; count
# (distinct doc) + equi-join keeps every stage partial-aggregatable and
# AQE-skew-splittable. Since r11 the gram is collapsed to a fixed-width
# key before the checkpoint/shuffle (the deployment shape); since r14
# that key is the 64-bit md5 PREFIX derived IDENTICALLY by both
# engines (ADVICE r11 #2: the old Spark-only xxhash64 key left the
# oracle grouping raw strings, so one 64-bit collision could diverge
# the engines as corpora grow — with a shared key domain a collision
# perturbs both engines the same way and the gate cannot diverge).
# See the collision-bound note at the checkpoint site inside
# repeated_ngram_spans.

SPAN_K = 6  # tokens per window; >= 2 windows overlap per planted line
_BOILERPLATE = "terms of service apply contact the site admin for details"


def merge_pos_islands(hits: DataFrame, k: int, with_wins: bool = False) -> DataFrame:
    """Merge k-gram hit POSITIONS into maximal per-doc spans (islands):
    the ONE implementation of the lag/brk/cumsum island rule shared by
    repeated_ngram_spans and decontaminate_spans_docs (single-sourced in
    round 12 — the quadruplicated copies had deliberately different end
    conventions and a future island-rule fix could have drifted the two
    dedup regimes apart; VERDICT r11 task 2 / builder handoff r11
    §10.6).

    ``hits`` is (doc_id, pos) where pos is the START token index of a
    width-``k`` gram hit. Two hits belong to one island iff their starts
    are within ``k`` (gap > k breaks — adjacent or overlapping windows
    chain). Returns (doc_id, island, p0, p1[, wins]) with ONE end
    convention: p0 = first covered token index, p1 = LAST covered token
    index (max(pos) + k - 1, inclusive), so covered tokens = p1 - p0 + 1
    and [p0, p1] is directly usable as an excision range. ``wins`` =
    window count per island when requested.

    Scale shape: one doc-keyed shuffle (the two window functions share
    the (doc_id, pos) sort), then a partial-aggregatable groupBy —
    hit positions only, never the text column. SQL twin:
    :func:`_island_sql`."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.select(
        "doc_id",
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > k),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    ).select("doc_id", "pos", F.sum("brk").over(w).alias("island"))
    aggs = [
        F.min("pos").alias("p0"),
        (F.max("pos") + (k - 1)).alias("p1"),
    ]
    if with_wins:
        aggs.append(F.count(F.lit(1)).alias("wins"))
    return isl.groupBy("doc_id", "island").agg(*aggs)


def _island_sql(k: int, with_wins: bool = False) -> str:
    """DuckDB twin of :func:`merge_pos_islands`: CTE fragment
    ``isl, isl2, sp`` consuming a CTE named ``hits(doc_id, pos)`` and
    producing ``sp(doc_id, island, p0, p1[, wins])`` under the same
    inclusive token-end convention (p1 = max(pos) + k - 1). Splice as
    ``WITH ..., hits AS (...), {_island_sql(K)}, ...``."""
    wins = ",\n             count(*) AS wins" if with_wins else ""
    return f"""
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > {k}
                  THEN 1 ELSE 0 END AS brk
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ),
    sp AS (
      SELECT doc_id, island, min(pos) AS p0,
             max(pos) + {k - 1} AS p1{wins}
      FROM isl2 GROUP BY 1, 2
    )"""


@register(
    "repeated_ngram_spans",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN '{_BOILERPLATE} ' || text ELSE text END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs),
    grams AS (
      -- the SAME 64-bit md5-prefix key the Spark side shuffles on:
      -- one key domain for both engines, so a collision cannot
      -- diverge the gate (ADVICE r11 #2)
      SELECT doc_id, t.i AS pos,
             substr(md5(array_to_string(toks[t.i + 1 : t.i + {SPAN_K}], ' ')),
                    1, 16) AS gram
      FROM toks,
           unnest(range(0, greatest(len(toks) - {SPAN_K - 1}, 0))) AS t(i)
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    {_island_sql(SPAN_K, with_wins=True)},
    per_doc AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(p1 - p0 + 1) AS covered,
             sum(wins) AS dup_windows
      FROM sp GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.dup_windows, 0) AS BIGINT) AS dup_windows,
           CAST(coalesce(p.covered, 0) AS BIGINT) AS covered_tokens,
           CAST(10000 * coalesce(p.covered, 0) // len(t.toks) AS BIGINT)
             AS coverage_e4,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
    """,
    tags=("dedup", "spans", "boilerplate", "ngram", "text"),
)
def repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring (boilerplate) spans: k-gram
    windows duplicated across >=2 distinct docs, merged per doc into
    maximal spans, reported as window/coverage/span counts in integer
    micro-units. Every 7th doc gets a planted 10-token boilerplate
    line (both engines apply the same transform), so the answer is
    non-trivial at every SF and a full planted span must merge from
    {10 - SPAN_K + 1} overlapping windows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(_BOILERPLATE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    n = F.size("toks")
    gram_arr = F.when(
        n >= SPAN_K,
        F.transform(
            F.sequence(F.lit(0), n - SPAN_K),
            lambda i: F.array_join(F.slice("toks", i + 1, SPAN_K), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The inventory feeds BOTH branches (dup-gram agg + the hits join);
    # without a cut each re-runs tokenize+posexplode over the corpus —
    # the materialization trades that second pass for block storage.
    # r16: COLUMNAR persist (bounded_persist), not deserialized
    # localCheckpoint — the same ~100 B/row object-block lesson as
    # pagerank (r15): at the sf10 decade the checkpointed inventory's
    # row blocks dominated the wall (39.8 s warm); columnar-compressed
    # cache halves it (18.2 s, decade ratio 8.33 → ~3.1) at a ~1 s
    # small-scale cost (sf1 4.8 → 5.9 warm). Since r11 (ADVICE r10)
    # the gram STRING is collapsed to a fixed-width 64-bit key BEFORE
    # the cut, so the materialization holds corpus tokens × 16 bytes
    # instead of × ~6-token strings (~3× smaller) and the gram-keyed
    # shuffle moves fixed-width keys. Since r14 the key is the md5
    # PREFIX — the one function both engines evaluate identically — so
    # the oracle groups the SAME key domain and a 64-bit collision
    # perturbs both engines alike instead of diverging the gate
    # (ADVICE r11 #2; collision P ≈ m²/2⁶⁵ ≈ 3e-8 at the sf1 gram
    # count, and a phantom dup-gram perturbs per-doc counts by at most
    # one window). Deployments without the oracle in the loop can swap
    # xxhash64 back for an 8-byte long key; the topology is identical.
    # At 100 TB this materialization moves to disk-backed persist or a
    # written-out gram-key table for reuse; recompute is the fallback
    # when storage is the scarcer resource.
    from ..session import bounded_persist

    grams = bounded_persist(
        "repeated_ngram_spans.grams",
        toks.select(
            "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
        ).select(
            "doc_id", "pos", F.substring(F.md5("gram"), 1, 16).alias("gram")
        ),
    )
    # agg + equi-join (NOT collect_list): hot grams stay partial-agg +
    # AQE-splittable; this is the one gram-keyed shuffle of the plan
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select("doc_id", "pos")
    sp = merge_pos_islands(hits, SPAN_K, with_wins=True)
    per_doc = sp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        # inclusive token-end convention: covered = p1 - p0 + 1
        # (identical value to the pre-r12 max(pos) - p0 + SPAN_K form)
        F.sum(F.col("p1") - F.col("p0") + 1).alias("covered"),
        F.sum("wins").alias("dup_windows"),
    )
    return (
        toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
            # integer `div`, not `/`: double division + cast can land
            # one ULP under the exact quotient; DuckDB's // is exact
            F.expr(
                "(10000 * coalesce(covered, 0)) div n_tokens"
            )
            .cast("long")
            .alias("coverage_e4"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        )
        .orderBy("doc_id")
    )


# --- round 11: token-level benchmark decontamination -------------------------

DECON_K = 5  # word-gram width, matches contamination_check's 5-grams


@register(
    "decontaminate_spans_docs",
    oracle=f"""
    WITH docs2 AS (
      SELECT doc_id, source,
             CASE WHEN (source = 'src0' AND doc_id % 4 = 0)
                       OR (source <> 'src0' AND doc_id % 9 = 0)
                  THEN '{_BOILERPLATE} ' || text ELSE text END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, source, {_TOK_SQL} AS tok FROM docs2),
    bench AS (
      SELECT DISTINCT unnest(list_distinct({_ngram_sql(DECON_K)})) AS g
      FROM toks WHERE source = 'src0'
    ),
    corpus AS (SELECT doc_id, tok FROM toks WHERE source <> 'src0'),
    grams AS (
      SELECT doc_id, t.i AS pos,
             list_aggregate(tok[t.i + 1 : t.i + {DECON_K}],
                            'string_agg', ' ') AS g
      FROM corpus,
           unnest(range(0, greatest(len(tok) - {DECON_K - 1}, 0))) AS t(i)
    ),
    hits AS (SELECT gr.doc_id, gr.pos FROM grams gr JOIN bench b USING (g)),
    {_island_sql(DECON_K)},
    tokpos AS (
      SELECT doc_id, t.i AS pos, tok[t.i + 1] AS t
      FROM corpus, unnest(range(0, len(tok))) AS t(i)
    ),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.t FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM sp
        WHERE sp.doc_id = tp.doc_id AND tp.pos BETWEEN sp.p0 AND sp.p1
      )
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY 1
    ),
    spn AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1)
    SELECT c.doc_id,
           CAST(len(c.tok) AS BIGINT) AS n_tok,
           CAST(len(c.tok) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(spn.n_spans, 0) AS BIGINT) AS n_spans,
           coalesce(a.clean_text, '') AS clean_text
    FROM corpus c
    LEFT JOIN agg a USING (doc_id)
    LEFT JOIN spn USING (doc_id)
    ORDER BY c.doc_id
    """,
    tags=("text", "contamination", "decontamination", "spans", "ngram"),
)
def decontaminate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level benchmark decontamination: EXCISE contaminated spans
    instead of dropping whole documents.

    contamination_check answers "which docs leak eval data"; the
    document-drop policy it implies wastes every clean token in a doc
    that shares one line with the benchmark. This operator implements
    the surgical policy a production pretraining pipeline runs: find
    every corpus position whose word-{DECON_K}-gram appears in the
    benchmark (src0) gram set, merge overlapping/adjacent windows into
    maximal spans (the repeated_ngram_spans island rule), remove those
    token ranges, and return the spliced text with before/after
    accounting. A 10-token boilerplate line is planted into every 4th
    benchmark doc AND every 9th corpus doc (both engines apply the same
    transform), so full-span excision is exercised at every SF on top
    of the corpus's own organic 5-gram collisions.

    Scale shape (100 TB): the benchmark gram set is DISTINCT'd and
    broadcast (eval suites are MBs); the corpus flows scan → shingle
    explode → broadcast-hash hit filter → ONE doc-keyed shuffle for the
    island merge (hit positions only, a tiny fraction of tokens) →
    spans collected per doc (bounded by spans per doc) → joined back on
    doc_id to the token arrays (the second doc-keyed shuffle, and the
    only one that carries text) — the splice itself is a columnar
    filter/transform over the token array, never per-token rows. The
    text column never shuffles by gram.
    """
    from ..functions.text import shingles, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(
            ((F.col("source") == "src0") & (F.col("doc_id") % 4 == 0))
            | ((F.col("source") != "src0") & (F.col("doc_id") % 9 == 0)),
            F.concat(F.lit(_BOILERPLATE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = docs.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    bench = (
        toks.filter(F.col("source") == "src0")
        .select(
            F.explode(
                F.array_distinct(shingles(F.col("toks"), DECON_K))
            ).alias("g")
        )
        .distinct()
    )
    corpus = toks.filter(F.col("source") != "src0").select("doc_id", "toks")
    grams = corpus.select(
        "doc_id",
        F.posexplode(shingles(F.col("toks"), DECON_K)).alias("pos", "g"),
    )
    hits = grams.join(F.broadcast(bench), "g").select("doc_id", "pos")
    sp = merge_pos_islands(hits, DECON_K)
    doc_sp = sp.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("p0", "p1"))).alias("spans"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    spans = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<p0:int,p1:int>>")
    )
    indexed = F.transform(
        "toks", lambda t, i: F.struct(t.alias("t"), i.alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            spans, lambda r: (s.i >= r.p0) & (s.i <= r.p1)
        ),
    )
    return (
        corpus.join(doc_sp, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tok"),
            (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.array_join(
                F.transform(kept, lambda s: s.t), " "
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )

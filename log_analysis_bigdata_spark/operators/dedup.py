"""End-to-end MinHash dedup pipeline: shingle → signature → banded-LSH
candidates → exact-Jaccard verify → connected components → canonical
keepers — the full candidate→verify→cluster→canonicalize chain a
training-data pipeline runs before packing a corpus.

The reference computes none of this (its dedup surface is the
LLM-pipeline brief's, not the log jobs'); the stage *shapes* reuse the
engine's own building blocks: functions.text for shingles/MinHash,
operators.components for the iterative clustering.

Stage-by-stage shuffle budget — the 100 TB argument, plan-asserted over
a doc_id-bucketed corpus table in tests/test_plans.py:

  1. shingle / signature / band digests — narrow, zero shuffle;
  2. candidate generation — the ONLY corpus-wide shuffle, an equi-
     self-join keyed on (band_idx, band_digest): the LSH bucket key.
     Never all-pairs; collisions, not the corpus, go quadratic;
  3. pair distinct + Jaccard verify — candidate-sized. The verify
     joins the (tiny) candidate list back to the shingle-set table by
     doc_id: with the corpus bucketed by doc_id that side reads
     pre-partitioned (no Exchange) and only candidates move;
  4. clustering — edge-sized min-label propagation with pointer
     jumping (operators/components.py), O(log diameter) rounds;
  5. keeper summary — component-label agg, output-sized.

Docs with zero shingles (< 3 tokens) are dropped before banding: their
MinHash components are all-NULL, which would both (a) diverge across
engines (DuckDB ``||`` propagates NULL where Spark ``concat_ws`` skips
it) and (b) collapse every such doc into ONE band bucket — a
catastrophic skew key at 100 TB. A real pipeline routes sub-shingle
docs to exact dedup instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    minhash_component,
    shingle_hashes,
    shingles,
    tokens,
)
from .components import connected_components

N_MINHASH = 8  # 2 bands x 4 rows
# verify threshold: jaccard >= JACCARD_NUM / JACCARD_DEN, compared as
# DEN*|A∩B| >= NUM*|A∪B| — integer arithmetic, so the predicate is
# bit-identical in Spark and the DuckDB oracle (a rounded double
# threshold can flip on pairs landing exactly on the boundary).
JACCARD_NUM = 4
JACCARD_DEN = 5


def shingle_sets(corpus: DataFrame) -> DataFrame:
    """(doc_id, hs) per-shingle BASE-HASH arrays (word-3-gram shingles
    → one md5-derived int63 each — the single expensive digest pass of
    the whole pipeline); empty-shingle docs dropped (see module
    docstring). Every downstream stage (signature mins, exact-Jaccard
    verify) works on these compact int arrays: callers persist THIS
    frame, so the md5 per shingle runs once, not once per signature
    component (the round-6 simhash CSE lesson applied to minhash)."""
    return corpus.select(
        "doc_id", shingle_hashes(shingles(tokens(F.col("text")))).alias("hs")
    ).filter(F.size("hs") > 0)


def band_digests(sh: DataFrame) -> DataFrame:
    """(doc_id, band0, band1): md5 digest per 4-signature band; the
    signature components are cheap integer mixes over the pre-hashed
    shingle array (functions.text.minhash_component)."""
    sigs = [minhash_component(F.col("hs"), i) for i in range(N_MINHASH)]
    return sh.select(
        "doc_id",
        F.md5(
            F.concat_ws("|", *[c.cast("string") for c in sigs[0:4]])
        ).alias("band0"),
        F.md5(
            F.concat_ws("|", *[c.cast("string") for c in sigs[4:8]])
        ).alias("band1"),
    )


def band_long(bands: DataFrame, id_alias: str = "doc_id") -> DataFrame:
    """(id, bi, d): unpivot the two band digests to (band_idx, digest)
    rows — THE LSH bucket key every candidate join shuffles or
    broadcasts on. One definition, shared by the self-join pipeline
    below and the batch-vs-history probe (queries/corpusq), so a band
    layout change cannot silently diverge between them."""
    return bands.select(
        F.col("doc_id").alias(id_alias),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"), F.col("band0").alias("d")),
                F.struct(F.lit(1).alias("bi"), F.col("band1").alias("d")),
            )
        ).alias("bd"),
    ).select(id_alias, F.col("bd.bi").alias("bi"), F.col("bd.d").alias("d"))


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct LSH candidates, doc_a < doc_b: unpivot
    the two band digests to (band_idx, digest) rows and equi-self-join
    on that composite key — one hash shuffle on the LSH bucket key, the
    union-of-per-band-joins plan expressed as a single join.

    DEGENERATE-BUCKET CAVEAT (r16): this join is quadratic IN A
    BUCKET, and m byte-identical docs share every band digest — a
    2 500-member exact class measured 1 250× candidate inflation.
    Callers whose OUTPUT is cluster-level must collapse exact classes
    first and feed representatives only (exact_class_collapse);
    callers that genuinely list pairs (minhash_dup_pairs) have inherently quadratic output on such
    input, which no plan can avoid — the probe's dup-class tile pins
    the pipeline path."""
    long = band_long(bands)
    a = long.select(F.col("doc_id").alias("doc_a"), "bi", "d")
    b = long.select(F.col("doc_id").alias("doc_b"), "bi", "d")
    return (
        a.join(b, ["bi", "d"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def verify_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Shingle-set Jaccard >= NUM/DEN on the candidate pairs only —
    linear in candidates, never quadratic in corpus. Sets are the
    60-bit per-shingle base hashes (identical in the oracle, so the
    survivor set is engine-identical; int arrays also intersect ~8x
    cheaper than the string shingles they replace). "Exact" up to
    60-bit hash identity: a distinct-shingle collision would need
    ~2^30 shingles per doc pair to become likely (~2^-60 each), so
    this is the exact-verify stage in practice at any corpus size —
    the earlier 31-bit reduction was NOT (code-review r7)."""
    shd = sh.select("doc_id", F.array_distinct("hs").alias("shd"))
    sa = shd.select(F.col("doc_id").alias("doc_a"), F.col("shd").alias("sh_a"))
    sb = shd.select(F.col("doc_id").alias("doc_b"), F.col("shd").alias("sh_b"))
    j = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    return j.filter(
        F.lit(JACCARD_DEN) * inter >= F.lit(JACCARD_NUM) * union
    ).select("doc_a", "doc_b")


# second seed of the class-key pair (the first is xxhash64's default)
CLASS_KEY_SEED = -7046029254386353131


def exact_class_collapse(
    site: str, df: DataFrame, id_col: str, key: Column
) -> tuple[DataFrame, DataFrame]:
    """(reps, star): one representative per exact class of ``df`` (rows
    with equal ``key``), for a near-dup join to see instead of the class.

    An LSH self-join is quadratic in a BUCKET, and m identical rows
    share every band: one 2 500-member class turned 2.5k natural
    candidates into 3.13M (r16, sf1; a 100 TB boilerplate class of 10⁶
    docs would be 5·10¹¹ pairs). An exact class is a verified clique, so
    an (m−1)-edge star to its min id reproduces its connectivity, and
    any member's near-dup edge is its rep's edge: components over
    (rep-level edges ∪ star) equal components over the member-level
    edges.

    The class key is an xxhash64 PAIR over ``key`` (default seed and
    ``CLASS_KEY_SEED``): 16 bytes on the wire instead of a KB-scale
    array, and only ``(ck1, ck2, id)`` rides the class groupBy. A
    cross-class collision needs both hashes to agree (~2^-128 per class
    pair), the collision class verify_jaccard already accepts.

    ``reps`` is ``df`` restricted to each class's min ``id_col`` row;
    ``star`` is ``(rep, id_col)`` for every other member. Both read the
    ``bounded_persist``-ed keyed table and rep join (sites
    ``<site>.keyed`` / ``<site>.with_rep``): the corpus-wide exchange
    runs once, and at most one cached copy per site outlives a call."""
    from ..session import bounded_persist

    keyed = bounded_persist(
        f"{site}.keyed",
        df.select(
            "*",
            F.xxhash64(key).alias("ck1"),
            F.xxhash64(key, F.lit(CLASS_KEY_SEED)).alias("ck2"),
        ),
    )
    classes = keyed.select("ck1", "ck2", id_col).groupBy("ck1", "ck2").agg(
        F.min(id_col).alias("rep")
    )
    with_rep = bounded_persist(
        f"{site}.with_rep", keyed.join(classes, ["ck1", "ck2"])
    )
    star = with_rep.filter(F.col(id_col) != F.col("rep")).select("rep", id_col)
    reps = with_rep.filter(F.col(id_col) == F.col("rep")).select(*df.columns)
    return reps, star


def minhash_dedup_pipeline(corpus: DataFrame) -> DataFrame:
    """corpus(doc_id, text) -> (keep_doc_id, n_members, max_doc_id):
    one row per near-dup cluster; keep_doc_id = the component's min
    doc_id (the canonical document a dedup pass retains), n_members
    counts how many documents collapse into it.

    Docs are first collapsed by SHINGLE-SET equality
    (:func:`exact_class_collapse` over array_sort(array_distinct(hs))):
    every downstream stage is set-based (minhash_component is an
    array_min; band digests derive from it; verify_jaccard
    array_distincts), so set-equal docs — reordered or repeated
    boilerplate included — are one verified clique. Only one
    representative per class enters banding/verify, so collisions in a
    bucket are genuine near-dup candidates, not copies.
    """
    # spread the shingle+digest stage across all cores first: a small
    # corpus parquet arrives as 1-2 input splits, which would serialize
    # the ONE expensive narrow pass of the pipeline onto 1-2 tasks (at
    # cluster scale the reader's own splits make this a no-op cost-wise:
    # one round-robin shuffle of raw text vs a core-bound digest stage)
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    )
    # the collapse's persisted keyed table is ALSO the materialization
    # boundary that keeps the md5 base hash single-pass (see
    # functions.text docstring)
    sh, star = exact_class_collapse(
        "dedup.minhash_dedup_pipeline",
        shingle_sets(corpus),
        "doc_id",
        F.array_sort(F.array_distinct("hs")),
    )
    ver = verify_jaccard(candidate_pairs(band_digests(sh)), sh)
    comp = connected_components(
        ver.union(star), src="doc_a", dst="doc_b", distinct_pairs=True
    )
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_doc_id"),
    ).select(
        F.col("component").alias("keep_doc_id"), "n_members", "max_doc_id"
    )


def incremental_verified_matches(
    hist_sh: DataFrame, new_sh: DataFrame
) -> DataFrame:
    """(new_doc_id, hist_doc_id) verified near-matches of a NEW batch
    against the historical corpus: the batch's band digests are
    BROADCAST against the history band index (history is scanned, never
    shuffled, for candidate generation), then candidates verify with
    the integer-exact Jaccard. Returned LAZY so callers can explain the
    plan (tests/test_plans.py asserts the broadcast + shuffle budget)
    or materialize it (queries/corpusq checkpoints it to release the
    shingle caches)."""
    cand = (
        band_long(band_digests(hist_sh), "hist_doc_id")
        .join(
            F.broadcast(band_long(band_digests(new_sh), "new_doc_id")),
            ["bi", "d"],
        )
        .select("new_doc_id", "hist_doc_id")
        .distinct()
    )
    sn = new_sh.select(
        F.col("doc_id").alias("new_doc_id"),
        F.array_distinct("hs").alias("sh_n"),
    )
    sh2 = hist_sh.select(
        F.col("doc_id").alias("hist_doc_id"),
        F.array_distinct("hs").alias("sh_h"),
    )
    j = cand.join(sn, "new_doc_id").join(sh2, "hist_doc_id")
    inter = F.size(F.array_intersect("sh_n", "sh_h"))
    union = F.size(F.array_distinct(F.concat("sh_n", "sh_h")))
    return j.filter(
        F.lit(JACCARD_DEN) * inter >= F.lit(JACCARD_NUM) * union
    ).select("new_doc_id", "hist_doc_id")

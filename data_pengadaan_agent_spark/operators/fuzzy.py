"""Edit-distance fuzzy matching via pigeonhole segment blocking.

The dedup ladder so far is exact-hash → MinHash/SimHash (token-set
overlap) → SemDeDup (embedding proximity). None of those catch the
TYPO tier: two records whose strings differ by one or two character
edits share few token-level features but are the classic
entity-resolution duplicate (vendor names, titles, user-typed keys —
the reference's procurement strings are exactly this shape). The
naive answer is an all-pairs ``levenshtein(a, b) <= d`` — quadratic,
dead at 100 TB. This module is the published linear-candidate answer
(PassJoin: Li, Deng, Wang, Feng, "PASS-JOIN: A Partition-based Method
for Similarity Joins", VLDB 2011), re-expressed as DataFrame ops:

- **Pigeonhole blocking**: partition the shorter string s of a
  candidate pair into d+1 contiguous segments. d edits can touch at
  most d segments, so at least one segment survives UNTOUCHED and
  appears verbatim in t, shifted by at most d positions (the net
  insert/delete drift). Candidates are therefore the equi-join of
  s-segments against t-substrings of the same length drawn from a
  ±d window around the segment's home position — a JOIN ON EQUALITY,
  shuffle-partitionable, never a cartesian product.
- **Verification**: one exact ``levenshtein`` per candidate pair,
  using Spark's thresholded 3-arg form (banded O(d·n) dynamic
  programming, returns −1 past the threshold) — the candidate set is
  linear-ish in practice, so verification cost is too.

Completeness is structural (the pigeonhole lemma), not sampled: every
true pair is found, so the oracle twin can be the brute-force
band-join — an INDEPENDENT implementation, the strongest kind of
oracle. Strings shorter than d+1 characters cannot pigeonhole (every
nonempty segment could be edited); they are routed through a separate
tiny block (shorts × strings of length ≤ 2d — ed ≤ d bounds the
partner's length), which is parameter-small in any non-degenerate
corpus and documented as the degenerate tail.

Skew note (the winnow/dup_spans df-cap discipline does NOT apply
here): a viral segment key would fan out, but capping keys breaks the
completeness lemma and silently drops true pairs — for a dup DETECTOR
that is wrong. Mass-identical strings make the OUTPUT itself
quadratic; cap the corpus upstream (stratified_sample) if that is
the data, not the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _segments(df: DataFrame, d: int, text_col: str, id_col: str) -> DataFrame:
    """(len, seg_no, seg, id) for every string of length >= d+1: the
    d+1 even segments (first len % (d+1) segments one char longer —
    the deterministic partition both sides must agree on)."""
    parts = d + 1
    return (
        df.select(
            F.col(id_col).alias("_sid"),
            F.length(text_col).cast("bigint").alias("_l"),
            F.col(text_col).alias("_st"),
        )
        .filter(F.col("_l") >= parts)
        .select(
            "_sid",
            "_l",
            F.explode(F.sequence(F.lit(0), F.lit(d))).alias("_i"),
            F.col("_st"),
        )
        .select(
            "_sid",
            "_l",
            "_i",
            F.expr(
                f"substring(_st, CAST(_i * (_l DIV {parts}) "
                f"+ least(_i, _l % {parts}) + 1 AS INT), "
                f"CAST((_l DIV {parts}) "
                f"+ (CASE WHEN _i < _l % {parts} THEN 1 ELSE 0 END) AS INT))"
            ).alias("_seg"),
        )
    )


def _probes(df: DataFrame, d: int, text_col: str, id_col: str) -> DataFrame:
    """(len, seg_no, seg, id) probe substrings of every string t: for
    each candidate shorter-side length l in [len(t)−d, len(t)] (and
    >= d+1), each segment slot i, every substring of t with segment
    i's length starting within ±d of segment i's home position. At
    most (d+1)²·(2d+1) probes per string — constant in the corpus."""
    parts = d + 1
    start = f"(_cl * (_m DIV {parts}) + least(_cl, _m % {parts}))"
    seg_len = f"((_m DIV {parts}) + (CASE WHEN _cl < _m % {parts} THEN 1 ELSE 0 END))"
    return (
        df.select(
            F.col(id_col).alias("_tid"),
            F.length(text_col).cast("bigint").alias("_tl"),
            F.col(text_col).alias("_tt"),
        )
        # t shorter than d+1 cannot be the LONGER side of a pigeonhole
        # pair (both sides would be <= d: the short block's case), and
        # including it would make the _m sequence DESCEND (the round-9
        # sequence lesson) — gate it out before the explode
        .filter(F.col("_tl") >= parts)
        .select(
            "_tid",
            "_tl",
            "_tt",
            F.explode(
                F.expr(f"sequence(greatest(_tl - {d}, {parts}), _tl)")
            ).alias("_m"),
        )
        .select(
            "_tid",
            "_tl",
            "_tt",
            "_m",
            F.explode(F.sequence(F.lit(0), F.lit(d))).alias("_cl"),
        )
        .select(
            "_tid",
            "_m",
            "_cl",
            "_tt",
            F.explode(
                F.expr(
                    f"sequence(greatest({start} - {d}, 0), "
                    f"least({start} + {d}, _tl - {seg_len}))"
                )
            ).alias("_q"),
            F.expr(seg_len).alias("_sl"),
        )
        .select(
            "_tid",
            F.col("_m").alias("_l"),
            F.col("_cl").alias("_i"),
            F.expr("substring(_tt, CAST(_q + 1 AS INT), CAST(_sl AS INT))").alias(
                "_seg"
            ),
        )
        .distinct()
    )


def _short_block(df: DataFrame, d: int, text_col: str, id_col: str) -> DataFrame:
    """Degenerate tail: strings of length <= d pair only with strings
    of length <= 2d (the edit budget bounds the gap). Tiny × small
    cross join, broadcast on the short side."""
    shorts = df.select(F.col(id_col).alias("_sid")).filter(
        F.length(text_col) <= d
    )
    partners = df.select(F.col(id_col).alias("_tid")).filter(
        F.length(text_col) <= 2 * d
    )
    return F.broadcast(shorts).crossJoin(partners).filter(
        F.col("_sid") != F.col("_tid")
    )


def fuzzy_dup_pairs(
    df: DataFrame,
    max_dist: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All unordered pairs (a_id < b_id) within edit distance
    ``max_dist``, with the exact distance. Candidates from the
    pigeonhole segment join (segments of the shorter side ⋈ windowed
    probe substrings of the longer side — completeness is the PassJoin
    lemma, see module docstring), verified with ONE banded
    ``levenshtein(a, b, max_dist)`` per distinct candidate pair.
    Identical strings (distance 0) are reported too — this subsumes
    exact dedup on the column."""
    if max_dist < 1:
        raise ValueError("fuzzy_dup_pairs: max_dist must be >= 1")
    d = int(max_dist)
    base = df.select(id_col, text_col).dropDuplicates([id_col])

    segs = _segments(base, d, text_col, id_col)
    probes = _probes(base, d, text_col, id_col)
    cand = (
        segs.join(probes, ["_l", "_i", "_seg"])
        .filter(F.col("_sid") != F.col("_tid"))
        .select(
            F.least("_sid", "_tid").alias("a_id"),
            F.greatest("_sid", "_tid").alias("b_id"),
        )
    )
    cand = cand.unionByName(
        _short_block(base, d, text_col, id_col).select(
            F.least("_sid", "_tid").alias("a_id"),
            F.greatest("_sid", "_tid").alias("b_id"),
        )
    ).distinct()

    a = base.select(
        F.col(id_col).alias("a_id"), F.col(text_col).alias("_ta")
    )
    b = base.select(
        F.col(id_col).alias("b_id"), F.col(text_col).alias("_tb")
    )
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("dist", F.levenshtein("_ta", "_tb", d))
        .filter(F.col("dist") >= 0)
        .select("a_id", "b_id", F.col("dist").cast("int").alias("dist"))
        .orderBy("a_id", "b_id")
    )


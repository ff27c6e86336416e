"""Text-analysis operators for training-data pipelines.

Beyond-reference surface (driver contract): language ID, quality
scoring, token counting, document fingerprinting — each a pure column
expression over the ``documents`` table, so the whole stage is
whole-stage-codegen'd and shuffles nothing.

The reference's only text processing is the *offline* derivation of
``filtered_keywords`` (lowercase → tokenize → stopword-strip →
comma-join; observable in its data only, SURVEY.md §2.8).
``derive_filtered_keywords`` makes that magic column reproducible
in-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.functions.exactmath import (
    dec_idiv_sql,
    dec_to_bigint_sql,
)

# Tiny embedded stopword list (the reference's list is not shipped;
# this one covers the fixture corpus + common English fillers).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# Distinctive-marker heuristic for the fixture corpus: deterministic
# and SQL-expressible so the DuckDB oracle can replicate it. A real
# deployment swaps in character-n-gram profiles (same operator shape).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "que"),
    "zh": ("的", "是", "了"),
}


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"[ \t\n\x0B\f\r]+")


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (≈ chars/4, the common heuristic for byte-level BPE)."""
    t = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.ceil(F.length(F.col(text_col)) / F.lit(4)).cast("bigint").alias("n_bpe_est"),
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality features: length, mean word length, stopword
    ratio, alpha ratio, and a composite [0,1] score. All built-ins.
    ``carry`` passes extra input columns through unchanged (streaming
    pipelines can't join the features back by id mid-stream)."""
    t = tokens(text_col)
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    n_stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    alpha_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z ]", "")).cast("double")
        / F.greatest(n_chars, F.lit(1)).cast("double")
    )
    stop_ratio = n_stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    mean_word_len = (n_chars - (n_tok - 1)).cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    score = (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
        + alpha_ratio * F.lit(0.3)
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        # RAW double, deliberately unrounded (round-9 determinism
        # audit): the composite lands on EXACT rounding halves (its
        # terms have dyadic denominators — min(n/100,1)·0.4 caps at
        # exactly 0.4, etc.), and an exact half is the one input where
        # engine/version rounding rules (HALF_UP vs banker's) can
        # diverge. The raw double is bit-identical across engines
        # because the expression order is fixed; the component ratios
        # stay rounded (their measured boundary margins are ≥5e-3,
        # tools/audit_round_boundaries.py).
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token language ID: count each language's marker tokens,
    pick the argmax (ties broken by language code order); 'und' when no
    marker hits. Deterministic, codegen'd, oracle-replicable."""
    t = tokens(text_col)
    scores = [
        F.size(F.filter(t, lambda x: x.isin(*marks))).alias(f"score_{lang}")
        for lang, marks in LANG_MARKERS.items()
    ]
    scored = df.select(F.col(id_col), *scores)
    # argmax via greatest + chained when (few languages → shallow CASE)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(sorted(langs)):
        pred = F.when(
            (best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return scored.select(F.col(id_col), pred.alias("lang_pred"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: order-sensitive rolling hash — left fold
    fp = xxhash64(fp, token). Chained hashing instead of fp*31+h keeps
    the fold overflow-free under ANSI mode while staying deterministic
    and order-sensitive (unlike a set hash)."""
    t = tokens(text_col)
    fp = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, tok: F.xxhash64(acc, tok),
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def derive_filtered_keywords(
    df: DataFrame, text_cols: list[str], out_col: str = "filtered_keywords"
) -> DataFrame:
    """Reproduce the reference's offline keyword-column derivation:
    lowercase → tokenize → de-dup → stopword-strip → comma-join
    (SURVEY.md §2.8 'lowercase+tokenize+stopword-strip')."""
    joined = F.concat_ws(" ", *[F.col(c) for c in text_cols])
    toks = F.array_except(
        F.array_distinct(F.split(F.lower(F.regexp_replace(joined, r"[^\p{L}\p{N} ]", " ")), r"\s+")),
        F.array(*[F.lit(s) for s in STOPWORDS], F.lit("")),
    )
    return df.withColumn(out_col, F.array_join(toks, ","))


def vocabulary(
    df: DataFrame, text_col: str = "text", min_df: int = 1
) -> DataFrame:
    """Document-frequency vocabulary — the reference's 1,562-token
    `v2_key.csv` keyword universe, derived in-engine (SURVEY.md §1.1
    'Keyword vocabulary'). Per-doc distinct tokens explode JVM-side;
    one partial-aggregated shuffle on token. At 100 TB the token key
    is zipf-skewed — AQE skew handling applies, and min_df pruning
    happens in the aggregate, not a second pass."""
    t = F.array_distinct(tokens(text_col))
    out = (
        df.select(F.explode(t).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return out.filter(F.col("df") >= min_df) if min_df > 1 else out


def fingerprint_arith(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Order-sensitive rolling fingerprint from two independent 31-bit
    polynomial channels (char multipliers 131/137) combined into one
    62-bit value — integer arithmetic end-to-end, so an external SQL
    oracle reproduces it exactly (the xxhash64 `fingerprint` is the
    JVM-only production variant; this is the verifiable twin).
    ``carry`` passes input columns through (see normalize_text)."""
    from data_pengadaan_agent_spark.operators.dedup import P31, poly_hash_col

    toks = F.filter(tokens(text_col), lambda t: t != "")

    def channel(mult: int):
        return F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: F.pmod(acc * 1000003 + poly_hash_col(t, mult), F.lit(P31)),
        )

    fp = channel(131) * F.lit(1 << 31).cast("long") + channel(137)
    return df.select(
        F.col(id_col), *[F.col(c) for c in carry], fp.alias("fingerprint")
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Overlapping character chunks — the context-window preparation
    step of a training pipeline (doc → chunks of ``chunk_chars`` with
    ``overlap`` carried between neighbors). Pure JVM: start offsets
    come from sequence()+explode (no Python, no UDTF needed), substring
    slices each chunk, so the operator is codegen'd and shuffle-free.
    One output row per (doc, chunk_idx) with the chunk text and its
    [start, end) span for provenance. A trailing start whose chunk
    would be entirely CONTAINED in the previous chunk (start + overlap
    >= text length — the previous chunk already reached the end) is
    dropped: it added zero new coverage and double-counted the tail in
    a training corpus (self-review r12)."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    n = F.length(F.col(text_col))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    out = df.select(
        F.col(id_col),
        F.col(text_col),
        n.alias("_n"),
        F.posexplode(starts).alias("chunk_idx", "start"),
    ).filter(
        (F.col("start") == 0) | (F.col("start") + F.lit(int(overlap)) < F.col("_n"))
    )
    return out.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start"),
        F.least(F.col("start") + chunk_chars, F.col("_n")).cast("int").alias("chunk_end"),
        F.substring(F.col(text_col), F.col("start") + 1, F.lit(chunk_chars)).alias("chunk"),
    )


def word_ngrams(text_col: str | Column, n: int) -> Column:
    """Word n-grams as an array<string> column (space-joined windows of
    the whitespace token stream). Empty array when the document has
    fewer than ``n`` words — guarded explicitly because
    ``sequence(1, 0)`` would otherwise produce a DESCENDING range."""
    t = tokens(text_col)
    if n == 1:
        return t
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_length_stats(sorted_arr: Column) -> Column:
    """Over a SORTED array, a single aggregate() pass computing
    struct(best = longest run of equal values, dup = total elements
    belonging to runs of length > 1). Equal values are adjacent after
    the sort, so term frequencies are run lengths — this replaces a
    (doc, term) explode+groupBy with per-row codegen'd work."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
        F.lit(0).cast("bigint").alias("dup"),
    )

    def step(acc, x):
        same = acc["prev"].eqNullSafe(x)
        new_run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        closed_dup = F.when(
            ~same & (acc["run"] > 1), acc["run"]
        ).otherwise(F.lit(0).cast("bigint"))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
            (acc["dup"] + closed_dup).alias("dup"),
        )

    def finish(acc):
        last_dup = F.when(acc["run"] > 1, acc["run"]).otherwise(F.lit(0).cast("bigint"))
        return F.struct(
            acc["best"].alias("best"), (acc["dup"] + last_dup).alias("dup")
        )

    return F.aggregate(sorted_arr, init, step, finish)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et
    al. 2021 §A1.1 use duplicate-line and top-n-gram fractions as
    pretraining filters; this is the same shape over whitespace words
    since the fixture corpus is single-line). Emitted per doc:
    duplicate-word fraction, top-word fraction, fraction of 2-gram
    occurrences belonging to repeated 2-grams, and top-2-gram
    fraction.

    ZERO-shuffle formulation: term frequencies within one document are
    run lengths of the SORTED token/2-gram array, so a per-row
    array_sort + one aggregate() pass (see _run_length_stats) computes
    every metric — embarrassingly parallel, no (doc, term) exchange at
    all. At 100 TB this is strictly better than the word-count shape:
    cost is O(len·log len) per document on the mapper and the stage
    has no boundary. (A first cut shuffled twice and benched 5.8 s at
    sf0.1; this one is pure codegen.) spread() guards the one way
    this shape loses: a single-split input would serialize the whole
    corpus onto one core."""
    from data_pengadaan_agent_spark.sources.catalog import spread

    df = spread(df, id_col)
    t = tokens(text_col)
    g = word_ngrams(text_col, 2)
    out = df.select(
        F.col(id_col),
        F.size(t).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(t)).cast("bigint").alias("n_distinct_words"),
        _run_length_stats(F.array_sort(t)).alias("_w"),
        F.size(g).cast("bigint").alias("_n_g"),
        _run_length_stats(F.array_sort(g)).alias("_g"),
    )
    return out.select(
        F.col(id_col),
        F.col("n_words"),
        F.col("n_distinct_words"),
        F.round(
            (F.col("n_words") - F.col("n_distinct_words")) / F.col("n_words"), 6
        ).alias("dup_word_frac"),
        F.round(F.col("_w")["best"] / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(
            F.when(F.col("_n_g") > 0, F.col("_g")["dup"] / F.col("_n_g"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("dup_2gram_frac"),
        F.round(
            F.when(F.col("_n_g") > 0, F.col("_g")["best"] / F.col("_n_g"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("top_2gram_frac"),
    )


def distinct_hashed_ngrams(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id, xxhash64(word-n-gram)) pairs — the shared core of
    every n-gram overlap operator (``ngram_contamination``,
    ``decontaminate_train``, ``boilerplate_ngrams``): hash BEFORE the
    distinct/join so every downstream exchange carries (id, int64)
    rows, never n-gram text, and spread() the input so the explode
    runs wide even off a single-split fixture file. A collision
    falsely merges two n-grams with probability ~#ngrams²/2⁶⁴ —
    acceptable for overlap audits; the value-checked oracle twins
    (which compare raw n-grams) confirm zero collisions on the
    fixtures."""
    from data_pengadaan_agent_spark.sources.catalog import spread

    return (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("g"))
        .select(F.col(id_col), F.xxhash64("g").alias("g"))
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    arith_hash: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): POSITIONAL fingerprint
    selection, the span-level complement of the whole-document
    ``fingerprint`` and the set-level MinHash family. Hash every
    word ``k``-gram, slide a window of ``w`` consecutive k-gram
    hashes, and per window select the minimum hash, rightmost on
    ties; output the distinct selected (position, hash) pairs per
    document. Guarantees: any shared substring of at least
    ``w + k - 1`` tokens between two documents yields at least one
    IDENTICAL selected fingerprint in both (detection threshold),
    and expected selected density is 2/(w+1) — a tunable sketch
    whose matches carry positions, so overlap hits can be mapped
    back to spans (plagiarism/citation localization, license-text
    spotting) rather than just flagging the pair. Documents with
    fewer than ``w + k - 1`` tokens have no full window and emit no
    fingerprints — too short to clear the detection threshold by
    definition.

    The rightmost-min-per-window rule is order-theoretic, not
    procedural: selecting ``min(struct(hash, -pos))`` over a
    ``ROWS BETWEEN w-1 PRECEDING AND CURRENT ROW`` frame (struct
    comparison is lexicographic on both engines) reproduces it
    exactly, so the whole operator is ONE window pass — no UDF, no
    per-window loop. ``arith_hash=True`` hashes k-grams with the
    two-channel 31-bit polynomial (integer arithmetic an external
    SQL oracle replays bit-exactly); ``False`` uses JVM xxhash64 —
    the production path (same selection law, engine-private hash).

    Scale shape: one posexplode to (doc, pos, hash64) rows, ONE
    doc-partitioned exchange serving both the window and the final
    distinct's partial aggregate; exchanges carry (id, int, int64)
    only, never text. spread() fans the explode out so a single
    narrow input split cannot serialize the scan."""
    from data_pengadaan_agent_spark.operators.dedup import P31, poly_hash_col
    from data_pengadaan_agent_spark.sources.catalog import spread

    if w < 1 or k < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")
    grams = spread(df, id_col).select(
        F.col(id_col),
        F.posexplode(word_ngrams(text_col, k)).alias("pos", "g"),
    )
    if arith_hash:
        h = F.pmod(
            poly_hash_col(F.col("g"), 131) * F.lit(131)
            + poly_hash_col(F.col("g"), 137),
            F.lit(P31),
        )
    else:
        h = F.xxhash64("g")
    hashed = grams.select(
        F.col(id_col), F.col("pos").cast("bigint").alias("pos"), h.alias("h")
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    sel = F.min(F.struct(F.col("h").alias("h"), (-F.col("pos")).alias("np"))).over(
        win
    )
    return (
        hashed.withColumn("_s", sel)
        .filter(F.col("pos") >= F.lit(w - 1))
        .select(
            F.col(id_col),
            (-F.col("_s.np")).alias("fp_pos"),
            F.col("_s.h").alias("fp_hash"),
        )
        .distinct()
    )


def winnow_matches(
    df_a: DataFrame,
    df_b: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 50,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    arith_hash: bool = True,
) -> DataFrame:
    """Span-level cross-corpus overlap report — the consumer that
    turns ``winnow_fingerprints`` into the full MOSS loop: which
    document PAIRS share fingerprints, how many, and WHERE. For each
    (a, b) pair sharing ≥ ``min_shared`` selected fingerprint hashes,
    reports the shared count and the span extent on each side
    (min/max matched k-gram position) — enough to localize the
    overlapping region for human review, which set-level overlap
    (``cross_source_overlap``, ``ngram_contamination``) cannot do.
    Detection inherits winnowing's guarantee: a shared run of
    ≥ w+k−1 tokens always produces ≥ 1 shared fingerprint.

    ``max_df`` is the boilerplate guard and the 100 TB safety bound:
    a fingerprint hash selected in more than ``max_df`` documents of
    either corpus (license headers, templated navigation) is dropped
    BEFORE the pair join — otherwise one viral k-gram joins m × n
    document pairs and the candidate set goes quadratic BY
    CONSTRUCTION (the minhash_lsh_pairs lesson; the cap makes the
    worst-case pair fan-out per hash max_df²). Dropped hashes are
    boilerplate by definition — the same rationale as
    ``boilerplate_ngrams``.

    Span semantics (ADVICE r8, stated explicitly): the reported spans
    are EXTENTS — min/max matched fingerprint position per side over
    ALL shared hashes — not contiguous runs. One coincidental shared
    k-gram far from the real overlap widens the extent toward the
    whole document; ``n_shared`` (and the detection guarantee's
    density, ~2/(w+1) fingerprints per overlapping token) is the
    signal to weigh the span by. Extent-not-run is the deliberate
    contract: run clustering needs a per-pair gap parameter and a
    second window pass, while the extent is one aggregate — callers
    localizing exact runs should re-compare the two extents' token
    ranges directly (they are already narrowed to the matched region
    when min_shared filters coincidental single hits).

    Scale shape: two fingerprint passes (each ONE window pass, see
    winnow_fingerprints), per-side document-frequency filters
    (partial-aggregated, ≤ |hashes| rows), then ONE (hash) equi-join
    whose exchanges carry (id, pos, int64) rows only, and a final
    (a, b) aggregate. Both join sides descend from explodes —
    garbage size estimates — so the join is pinned shuffle-capable
    (merge), never a corpus-sized broadcast."""
    # materialize each side's fingerprints ONCE: _rare consumes fp
    # twice (the df-cap aggregate AND the semi-join probe), and the
    # executed plan re-ran the whole explode + doc-window selection
    # pass per consumer (verified in plans/r14/winnow_matches_before
    # .txt: two Generate→Window chains per side) — exactly the
    # "computed twice" defect the docstring's one-pass claim denies
    # (r14, guide §1.2). Fingerprint rows are (id, pos, hash) ints at
    # ~2/(w+1) density — far smaller than the text they index.
    fa = winnow_fingerprints(
        df_a, k, w, text_col, id_col, arith_hash
    ).localCheckpoint(eager=True)
    fb = winnow_fingerprints(
        df_b, k, w, text_col, id_col, arith_hash
    ).localCheckpoint(eager=True)

    def _rare(fp: DataFrame) -> DataFrame:
        dfreq = fp.groupBy("fp_hash").agg(
            F.count_distinct(id_col).alias("_df")
        )
        return fp.join(
            dfreq.filter(F.col("_df") <= max_df).select("fp_hash").hint("merge"),
            "fp_hash",
            "left_semi",
        )

    a = _rare(fa).select(
        F.col(id_col).alias("a_id"),
        F.col("fp_pos").alias("a_pos"),
        "fp_hash",
    )
    b = _rare(fb).select(
        F.col(id_col).alias("b_id"),
        F.col("fp_pos").alias("b_pos"),
        "fp_hash",
    )
    return (
        a.join(b.hint("merge"), "fp_hash")
        .groupBy("a_id", "b_id")
        .agg(
            F.count_distinct("fp_hash").cast("bigint").alias("n_shared"),
            F.min("a_pos").alias("a_span_start"),
            F.max("a_pos").alias("a_span_end"),
            F.min("b_pos").alias("b_span_start"),
            F.max("b_pos").alias("b_span_end"),
        )
        .filter(F.col("n_shared") >= F.lit(int(min_shared)))
    )


def dup_gram_hash(gram_col: Column, arith_hash: bool = True) -> Column:
    """The dup family's gram hash — shared by ``dup_spans`` and the
    incremental gram-count index so the two agree by construction.
    Arith path: two 31-bit polynomial channels combined WIDE
    (``h131 · P31 + h137`` < 2⁶², exact int64 on any engine — a dup
    detector must not fold back mod P31, see dup_spans). Production
    path: JVM xxhash64."""
    from data_pengadaan_agent_spark.operators.dedup import P31, poly_hash_col

    if arith_hash:
        return poly_hash_col(gram_col, 131) * F.lit(P31) + poly_hash_col(
            gram_col, 137
        )
    return F.xxhash64(gram_col)


def dup_spans(
    df: DataFrame,
    length: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    arith_hash: bool = True,
    min_count: int = 2,
) -> DataFrame:
    """EXACT duplicated-substring spans (Lee et al. 2021, arXiv
    2107.06499 — the ExactSubstr dedup behind C4/Pile-scale corpora):
    every maximal token span whose ``length``-gram content appears at
    least ``min_count`` times in the WHOLE corpus (cross-document AND
    within-document repeats both count, as in the paper's suffix-array
    formulation). The exact complement of the approximate families:
    winnowing localizes FUZZY overlap via a sketch, this reports every
    byte-exact repeat of >= ``length`` tokens with zero false
    negatives at the gram granularity.

    The paper builds a monolithic suffix array — inherently
    single-machine. The distributed re-expression: a token position
    opens a duplicated region iff its ``length``-gram occurs >= 2
    times globally (a repeat of exactly L tokens is one shared L-gram;
    a longer shared run of R tokens is R-L+1 consecutive shared
    L-grams), so (1) hash every L-gram, (2) count occurrences per
    hash — an integer aggregate, never a pair join, so one viral
    span cannot go quadratic (contrast winnow_matches' max_df guard:
    here the count IS the output signal), (3) per document, merge
    consecutive duplicated gram positions into maximal spans with the
    classic gap-merge: new run iff pos > prev_pos + L (a gram at p
    covers tokens [p, p+L-1], so pos <= prev+L still extends
    contiguous coverage), running-sum the run flags into run ids, and
    aggregate each run to (span_start, span_end). Sub-L-token repeats
    are invisible by design — the paper's own threshold semantics.

    Determinism: positions/counts/span bounds are all BIGINT; with
    ``arith_hash=True`` grams hash through TWO 31-bit polynomial
    channels combined WIDE — ``h131 · P31 + h137`` (< 2⁶² , exact in
    int64 on any engine) — NOT folded back mod P31 the way the
    winnowing sketch combines them: a hash collision here directly
    fabricates a duplicate span (measured: the mod-P31 fold produced
    502 vs the true 477 spans on a 5k-doc corpus — ~5% false spans —
    and 13k vs 7.6k at 80k docs), whereas in a winnowing SKETCH a
    collision must also win the window min and match across docs.
    Expected false duplicates at G grams ≈ G²/2⁶³ — negligible to
    ~10⁹ grams; ``arith_hash=False`` = JVM xxhash64 (production,
    64-bit, same property).

    Scale shape: posexplode → (id, pos, h) rows; the occurrence
    gate is ``count(*) OVER (PARTITION BY h) >= min_count`` computed
    directly on the h exchange — r15: the previous groupBy(h) +
    left-semi merge-join-back shape ran the scan→tokenize→posexplode→
    hash chain TWICE (once per join side; only the pre-explode corpus
    exchange was reusable), plus a second (tiny) exchange for the
    partial-aggregated counts and the merge sort of both sides. The
    window count rides the single (id, pos, h) exchange the probe
    side already paid, so the corpus is tokenized and exploded ONCE.
    Then ONE doc_id exchange drives the lag window, the run-id
    running sum, and the final run aggregate — the scd2_history
    single-exchange discipline. Exchanges carry (int64, int64) rows
    only, never text.

    Skew trade (same class as dedup_passages' window vote, stated
    honestly): a viral gram's occurrences all land in one window
    group, which WindowExec buffers SPILLABLY (ints only, never
    text), where the old merge join's probe partition could have
    been split by AQE skew handling. The old shape paid a full extra
    corpus tokenize pass on EVERY call to buy that; at 100 TB the
    tokenize pass is corpus-proportional while a viral gram's group
    is repeat-proportional and disk-backed."""
    from data_pengadaan_agent_spark.sources.catalog import spread

    if length < 1:
        raise ValueError("dup_spans: length must be >= 1")
    if min_count < 2:
        raise ValueError("dup_spans: min_count must be >= 2")
    grams = spread(df, id_col).select(
        F.col(id_col),
        F.posexplode(word_ngrams(text_col, length)).alias("pos", "g"),
    )
    hashed = grams.select(
        F.col(id_col),
        F.col("pos").cast("bigint").alias("pos"),
        dup_gram_hash(F.col("g"), arith_hash).alias("h"),
    )
    dup = (
        hashed.withColumn(
            "_occ", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .where(F.col("_occ") >= F.lit(int(min_count)))
        .drop("_occ")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + F.lit(int(length))),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_run", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(id_col, "_run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(int(length) - 1)).alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + F.lit(1)).alias("span_len"),
            "n_dup_grams",
        )
    )


def _overlap_hits(
    test_df: DataFrame,
    train_df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The shared train/test n-gram overlap core: returns
    (test_g, hits) where ``test_g`` is the test side's distinct
    (id, hashed n-gram) frame and ``hits`` the per-doc count of test
    n-grams that occur anywhere in the training corpus. Factored out
    (optimization r14) so ``decontaminate_train`` can consume ONLY the
    hits aggregate — its old path went through the full audit output,
    whose totals ⟕ hits join forced a third explode+distinct pass and
    an extra scan that the anti-join then threw away."""
    from data_pengadaan_agent_spark.sources.catalog import spread

    test_g = distinct_hashed_ngrams(test_df, n, text_col, id_col)
    train_g = (
        spread(train_df, id_col)
        .select(F.explode(word_ngrams(text_col, n)).alias("g"))
        .select(F.xxhash64("g").alias("g"))
    )
    # Both n-gram frames are explode-derived (garbage static size
    # estimates) and corpus-proportional: pin the join strategy so the
    # planner can never elect to broadcast the training corpus. MERGE,
    # not shuffle_hash, and NO train-side distinct: a merge semi-join
    # handles duplicate right keys inside its spillable external sort,
    # whereas the old global .distinct() built a Σ distinct-ngram-key
    # partial HashAggregate (and the hash join an equally-sized build
    # relation) — measured OOM at docs ×64 under a 1 GiB / 32-thread
    # local JVM before the merge of its own spill files completed.
    # Sort-merge is the shape that degrades to disk instead of dying,
    # here and on a skewed 100 TB run.
    hits = (
        test_g.join(train_g.hint("merge"), "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return test_g, hits


def ngram_contamination(
    test_df: DataFrame,
    train_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: for each *test* document, the
    share of its distinct word n-grams that occur anywhere in the
    *training* corpus (the standard train/test overlap audit before an
    eval — e.g. GPT-3 appendix C runs exactly this shape with 13-grams).

    Spark-first: both corpora explode to distinct n-grams via the
    shared ``distinct_hashed_ngrams`` core (hash-before-shuffle: at
    100 TB that is the difference between moving ~8 bytes and ~50
    bytes per n-gram; see its docstring for the collision bound);
    the overlap is a left-semi join (test side keeps no train
    payload), then two small per-doc counts."""
    test_g, hits = _overlap_hits(test_df, train_df, n, text_col, id_col)
    totals = test_g.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0))
    return totals.join(hits.hint("shuffle_hash"), id_col, "left").select(
        F.col(id_col),
        F.col("n_ngrams"),
        n_overlap.alias("n_overlap"),
        F.round(n_overlap / F.col("n_ngrams"), 6).alias("contamination"),
        (n_overlap >= min_hits).alias("contaminated"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Canonical text normalization (the first step of every curation
    pipeline): lowercase, strip non-alphanumerics to spaces, collapse
    whitespace runs, trim. Pure codegen'd column expressions — zero
    shuffle, zero Python. ``carry`` passes input columns through so
    composites stay one linear lineage instead of joining provenance
    back by id (each such join re-executes the whole upstream plan)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 \t\n\x0B\f\r]", " "),
            r"[ \t\n\x0B\f\r]+",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        norm.alias("text_norm"),
        F.length(norm).alias("n_chars_norm"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 512,
    shards: int = 8,
) -> DataFrame:
    """Sequence packing for training batches: assign each document a
    (shard, bin, offset) so concatenated documents fill ~``budget``
    token windows. Distributed form of greedy packing: documents
    shard by id hash, and within a shard the bin is the token-prefix
    sum divided by the budget (first-fit by offset — a document whose
    start offset lands in bin b belongs to b even if its tail would
    straddle, so bins overflow by at most one document; exact
    close-the-bin greedy packing is inherently sequential and buys
    <1% fill). All integer arithmetic — the shard comes from the same
    Knuth multiplicative hash as train_test_split, so the whole
    assignment is SQL-expressible for the value-checked twin; prefix
    sums come from ONE running-sum window per shard, so the operator
    costs one hash exchange on the shard key."""
    from data_pengadaan_agent_spark.operators.sampling import split_hash_col

    n_tok = F.size(tokens(text_col))
    base = df.select(
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        F.pmod(split_hash_col(id_col), F.lit(shards)).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / budget).cast("bigint").alias("bin_id"),
        F.pmod(cum - F.col("n_tokens"), F.lit(budget)).cast("bigint").alias("offset"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document top-k terms by tf·idf — the classic keyword
    extractor over a corpus (rather than raw tf).

    The idf factor is an EXACT-ARITHMETIC proxy: instead of the
    floating ``ln(N/df)`` (whose last-ulp libm drift across engines
    would break value-hash verification), the score is
    ``tf * ((N * 1_000_000) DIV df)`` — integer division, strictly
    decreasing in df, identical on any SQL engine — computed in
    DECIMAL(38,0) because the product leaves int64 well inside the
    design envelope (a df=1 term repeated 93× at 1e11 docs;
    self-review r14, ``functions.exactmath``). Ranking behavior
    matches 1/df-weighted tf·idf; swap the expression for
    ``ln((N+1)/(df+1))`` when cross-engine equality is not required.

    Scale shape: tf agg shuffles (doc, term); df agg shuffles (term)
    with partial aggregation; the df side joins back on term (shuffle
    equi-join — term vocabulary is Zipfian but the df table is
    term-distinct so no skew amplification); corpus size N arrives via
    a broadcast 1-row cross join, and the final top-k is one window
    partitioned by doc.
    """
    t = tokens(text_col)
    exploded = df.select(F.col(id_col), F.explode(t).alias("term"))
    tf = exploded.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # NOTE (r14 optimization audit): deriving df from the tf table
    # (groupBy(term).count over the (doc, term) rows) compiles to the
    # IDENTICAL physical plan — Catalyst expands count_distinct into
    # the same (doc, term) partial-aggregate shape, and column
    # pruning makes the two subtrees canonically different either
    # way, so no exchange is reusable. Verified both ways in the
    # executed plan; keeping the direct form.
    dfreq = exploded.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).cast("bigint").alias("df")
    )
    n_total = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    scored = (
        # dfreq aggregates the exploded term frame — estimate is
        # garbage and |vocabulary| grows with the corpus
        tf.join(dfreq.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(n_total))
        # DECIMAL(38,0) end to end (self-review r14): the idf proxy is
        # n_total*1e6 (past int64 at ~9.2e12 docs) and the tf multiply
        # overflows far earlier (a df=1 term repeated 93x at 1e11 docs)
        .withColumn(
            "score",
            F.expr(
                "CAST(tf AS DECIMAL(38,0)) * "
                + dec_idiv_sql("CAST(n_total AS DECIMAL(38,0)) * 1000000", "df")
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            # score stays DECIMAL(38,0) INSIDE the plan (ranking
            # headroom) but crosses the output edge as guarded BIGINT
            # (r15 driver-gate fix — see exactmath.dec_to_bigint_sql):
            # only the k survivors per doc pay the narrowing, and a
            # score past int64 (a df=1 term repeated 93x at 1e11 docs)
            # fails loudly instead of hash-diverging.
            F.expr(dec_to_bigint_sql("score", "tfidf_top_terms.score")).alias(
                "score"
            ),
            "rnk",
        )
    )


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a literal query-term
    list (Robertson & Spärck Jones; the ranking function behind every
    classic search engine) — the principled upgrade of the raw
    match-count ranking in ``hybrid_retrieval``'s keyword arm.

    Cross-engine determinism (the tfidf_top_terms discipline): the idf
    factor is the integer proxy ``(N * 1_000_000) DIV df_t`` — ln() is
    libm and drifts across engines — and everything downstream is
    IEEE +,*,/ on doubles in a FIXED expression order (per-term scores
    added left-to-right, never a SUM over rows), so DuckDB reproduces
    the value bit-for-bit. Docs containing no query term score 0 and
    are filtered out.

    Scale shape: ONE corpus scan, zero row-level shuffles. Per-term
    tf comes from ``size(filter(tokens))`` column expressions; the
    corpus stats (N, avgdl, per-term document frequencies) are a
    single 1-row aggregate broadcast back; the filter + projection is
    stateless. At 100 TB this is a map over the corpus plus one
    scalar broadcast — no explode, no vocabulary shuffle (contrast
    tfidf_top_terms, which must shuffle the full term space because
    its query is "all terms").
    """
    toks = tokens(text_col)
    dl = F.size(toks).cast("double")
    # tokens() lowercases; query terms are normalized to match, else a
    # capitalized query term silently scored 0 (self-review r12)
    query_terms = [t.lower() for t in query_terms]

    def _tf(term: str) -> Column:
        # one-arg lambda only: a second (defaulted) parameter would make
        # Spark treat this as the (element, index) lambda form
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [
        _tf(t).cast("double").alias(f"_tf_{i}") for i, t in enumerate(query_terms)
    ]
    base = df.select(F.col(id_col), dl.alias("_dl"), *tf_cols)

    stat_aggs = [
        F.count(F.lit(1)).cast("bigint").alias("_n_docs"),
        F.sum("_dl").alias("_sum_dl"),
    ] + [
        F.sum(F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias(f"_df_{i}")
        for i in range(len(query_terms))
    ]
    stats = base.agg(*stat_aggs)

    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sum_dl") / F.col("_n_docs").cast("double")
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"_tf_{i}")
        idf = F.expr(f"(_n_docs * 1000000) DIV greatest(_df_{i}, 1)").cast("double")
        term = F.when(
            tf > 0,
            idf * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / avgdl)),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        scored.withColumn("bm25", score)
        .filter(F.col("bm25") > 0)
        .select(F.col(id_col), "bm25")
    )


def bm25_int_coeffs(k1: float, b: float) -> tuple[int, int, int, int]:
    """Integer coefficients (A, B, C, L) of the fraction-cleared BM25
    contribution ``(idf · A·tf·sdl) DIV (L·tf·sdl + B·sdl + C·dl·n)``
    — shared by ``bm25_retrieval_batch`` and the postings-index query
    path (``lexindex.bm25_from_index``) so the two provably compute
    the same exact-integer scores. ``L`` is the lcm of the
    denominators of the rationals k1+1, k1·(1−b), k1·b; defaults
    k1=1.5, b=0.75 give (20, 3, 9, 8). Raises on k1/b that don't
    round-trip through Fraction (the exactness precondition)."""
    from fractions import Fraction
    from math import lcm

    fk1 = Fraction(k1).limit_denominator(10**6)
    fb = Fraction(b).limit_denominator(10**6)
    if float(fk1) != float(k1) or float(fb) != float(b):
        raise ValueError(
            "k1 and b must be rational-representable floats for the "
            "exact-integer BM25 contribution (e.g. 1.5, 0.75, 1.2)"
        )
    af, bf, cf = fk1 + 1, fk1 * (1 - fb), fk1 * fb
    scale_l = lcm(af.denominator, bf.denominator, cf.denominator)
    return int(af * scale_l), int(bf * scale_l), int(cf * scale_l), scale_l


def bm25_retrieval_batch(
    queries_df: DataFrame,
    docs: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    terms_col: str = "terms",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Batched multi-query BM25 retrieval: top-``k`` documents per
    query for a TABLE of queries (qid, array<string> terms) — the
    lexical twin of ``mine_hard_negatives`` (DPR-style "BM25
    negatives" come from exactly this operator) and the many-query
    generalization of ``bm25_score``, whose fixed-expression-order
    determinism trick cannot extend to per-query term lists.

    Cross-engine determinism — EXACT INTEGER ARITHMETIC, no floating
    point anywhere (round-9 hardening: the previous
    ``round(double, 6)`` contribution hash-failed in the driver
    environment on a representation-boundary value — Spark rounds
    HALF_UP on the shortest decimal representation while other engines
    scale-and-round, and the two can disagree by 1e-6). idf stays the
    integer proxy ``(N * 1_000_000) DIV df_t``. The BM25 contribution
    ``idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`` is cleared of
    fractions by multiplying numerator and denominator by ``L·sdl``
    (``avgdl = sdl/n``; ``L`` = the lcm of the denominators of the
    rationals ``k1+1``, ``k1·(1−b)``, ``k1·b`` — 8 for the default
    k1=1.5, b=0.75):

        contrib = (idf · A·tf·sdl) DIV (L·tf·sdl + B·sdl + C·dl·n)

    with integer coefficients ``A = (k1+1)·L``, ``B = k1·(1−b)·L``,
    ``C = k1·b·L`` — every term a BIGINT widened through
    DECIMAL(38,0) for the products (idf·A·tf·sdl can pass int64 at
    large SFs), ONE integer division, zero rounding: bit-exact on any
    engine by construction, the same discipline as ``ngram_lm_score``
    and ``token_rarity``. The per-(query, doc) SUM of integer
    contributions is exact and order-free; ranking orders by
    (score DESC, id ASC). ``k1``/``b`` must be rational-representable
    (the Fraction round-trip is checked; defaults are).

    The FINAL ``bm25`` column is BIGINT (round-10 hardening): only the
    intermediate products need the DECIMAL(38,0) widening — each
    summed contribution is bounded by ``idf·A/L ≤ (k1+1)·N·10^6``, so
    the per-query sum is ``< (k1+1)·10^6·N·|terms|``: with defaults
    and 3-term queries that is int64-safe through N ≈ 1.2e12 docs
    (far past sf1000). A decimal output type buys nothing after the
    integer division and is the one construct that was unique to this
    query across two driver-red rounds — different engines/Arrow
    stacks serialize decimal128 values differently while int64 is
    unambiguous.

    Scale shape: the corpus EXPLODES once — to (term, doc) rows
    immediately semi-joined against the BROADCAST distinct query
    vocabulary — but is SCANNED twice: the (N, Σdl) stats aggregate
    re-tokenizes the corpus in a second columnar scan (ADVICE r7).
    That second scan is deliberate: it folds map-side to ONE row with
    zero exchange, while deriving the same stats from the postings
    lineage would need a per-doc aggregate over the exploded rows —
    a corpus-sized shuffle — or would silently undercount docs whose
    vocabulary misses the query batch if taken after the semi-join.
    CPU for one extra tokenize pass is the cheaper price at scale.
    Document frequencies are vocabulary-sized and broadcast; query
    terms are broadcast. The only corpus-proportional exchange is the
    pruned (doc, term) tf aggregate. Duplicate terms
    in one query weight that term twice — multiplicity is preserved
    identically on both engines. Documents sharing no term with a
    query are absent from its ranking (score 0), like bm25_score."""
    coef_a, coef_b, coef_c, scale_l = bm25_int_coeffs(k1, b)

    toks = tokens(text_col)
    # lower the query terms to the tokens() convention (self-review
    # r12: an uppercase term silently matched nothing); explode first
    # — generators cannot nest inside expressions
    qterms = queries_df.select(
        F.col(qid_col), F.explode(terms_col).alias("_t_raw")
    ).select(F.col(qid_col), F.lower(F.col("_t_raw")).alias("t"))
    vocab = qterms.select("t").distinct()
    posts = docs.select(
        F.col(id_col),
        F.explode(toks).alias("t"),
        F.size(toks).cast("bigint").alias("_dl"),
    ).join(F.broadcast(vocab), "t", "left_semi")
    tf = posts.groupBy(id_col, "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_tf"),
        F.min("_dl").alias("_dl"),
    )
    dfreq = tf.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("_sum_dl"),
    )
    # dec_idiv_sql, not a bare DIV: Spark's DIV on decimal operands
    # routes the exact quotient through LongType and silently WRAPS
    # past int64 (probed r14, functions.exactmath). The contribution
    # bound below keeps the quotient int64-safe through N ~ 1.2e12
    # docs, so values are identical — but beyond the bound the failure
    # is now a loud ANSI cast error instead of a wrapped negative.
    contrib = F.expr(
        dec_idiv_sql(
            f"""CAST((_n_docs * 1000000) DIV greatest(_df, 1) AS DECIMAL(38,0))
             * CAST({coef_a} AS DECIMAL(38,0)) * _tf * _sum_dl""",
            f"""CAST({scale_l} AS DECIMAL(38,0)) * _tf * _sum_dl
             + CAST({coef_b} AS DECIMAL(38,0)) * _sum_dl
             + CAST({coef_c} AS DECIMAL(38,0)) * _dl * _n_docs""",
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "t")
        .join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(stats))
        .select(F.col(qid_col), F.col(id_col), contrib.alias("_c"))
        .groupBy(qid_col, id_col)
        .agg(F.sum("_c").cast("bigint").alias("bm25"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(qid_col).orderBy(
        F.desc("bm25"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col(qid_col),
            F.col(id_col),
            "bm25",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram language-model fluency score — the KenLM/CCNet-style
    perplexity gate of a pretraining pipeline, in the repo's
    cross-engine integer discipline: train bigram + unigram counts on
    a REFERENCE corpus (``ref_df`` — e.g. the high-quality or
    target-language slice) in one pass, then score every document by
    its mean stupid-backoff bigram probability. Low-scoring docs read
    as disfluent/garbled/foreign relative to the reference — the
    classic "perplexity filter" (CCNet buckets corpora by exactly
    this). Distinct from ``token_rarity`` (unigram, self-referenced)
    and ``quality_classifier`` (supervised): this is the
    reference-corpus LM gate.

    Stupid backoff (Brants et al. 2007), integer proxy per bigram
    occurrence (probabilities scaled by 1e6, one integer division —
    exact and order-free on any engine; no libm):

        c2(w1w2) > 0:  (c2 * 1_000_000) DIV c1(w1)
        else, w2 seen: (2 * c1(w2) * 1_000_000) DIV (5 * N)   # 0.4
        else (OOV):     0

    ``lm_score`` = one double division of the exact BIGINT sum by the
    bigram count. Docs with < 2 tokens have no bigrams and are
    excluded from the output (the featureless-exclusion convention of
    quality_classifier). Bigrams come from ``word_ngrams`` verbatim —
    the oracle replays the same construction, empty-token edges
    included.

    Scale shape (r15, guide §1.2/§2.3): the reference corpus is
    scanned and exploded exactly ONCE — unigrams and bigrams ride one
    tagged generator (``concat`` of kind-tagged struct arrays) into
    one (kind, gram) aggregate, checkpointed DISK_ONLY (vocab-scale —
    bounded by |unigram|+|bigram| vocabulary, never corpus-row-scale,
    but the no-corpus-scale-memory-pins house rule applies to big
    vocabularies too). Before r15 the lazy c1 table was consumed
    THREE times (w1 join, w2 join, the N aggregate) and c2 once, so
    the executed plan re-scanned and re-exploded the reference corpus
    FOUR times. The target corpus explodes once to (doc, bigram)
    rows and takes THREE hash joins — bigram→c2, w1→c1, w2→c1 — all
    pinned ``shuffle_hash`` because every side descends from an
    explode (the house rule: explode-derived frames have garbage size
    estimates; at 100 TB a reference vocabulary is NOT
    broadcastable). N arrives via a 1-row broadcast. Every exchange
    carries ids + strings + int64 counts; the final per-doc aggregate
    is the only corpus-sized shuffle."""
    from pyspark import StorageLevel

    from data_pengadaan_agent_spark.sources.catalog import spread

    # ONE reference pass: tag each unigram (k=1) and bigram (k=2) and
    # count in a single aggregate. Semantics identical to the two
    # separate explodes: tokens()/word_ngrams() are the same
    # expressions; explode() drops NULL/empty arrays on both shapes
    # (a 1-token doc contributes its token and no bigram; NULL text
    # contributes nothing, exactly as before).
    tagged = spread(ref_df, id_col).select(
        F.explode(
            F.concat(
                F.transform(
                    tokens(text_col),
                    lambda t: F.struct(
                        F.lit(1).cast("int").alias("k"), t.alias("g")
                    ),
                ),
                F.transform(
                    word_ngrams(text_col, 2),
                    lambda b: F.struct(
                        F.lit(2).cast("int").alias("k"), b.alias("g")
                    ),
                ),
            )
        ).alias("kg")
    )
    counts = (
        tagged.groupBy(F.col("kg.k").alias("k"), F.col("kg.g").alias("g"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    c1 = counts.filter(F.col("k") == 1).select(
        F.col("g").alias("w"), F.col("cnt").alias("c1")
    )
    c2 = counts.filter(F.col("k") == 2).select(
        F.col("g").alias("bg"), F.col("cnt").alias("c2")
    )
    n_total = c1.agg(F.sum("c1").cast("bigint").alias("n_total"))
    occ = spread(df, id_col).select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, 2)).alias("bg"),
    ).select(
        id_col,
        "bg",
        F.substring_index("bg", " ", 1).alias("_w1"),
        F.substring_index("bg", " ", -1).alias("_w2"),
    )
    scored = (
        occ.join(c2.hint("shuffle_hash"), "bg", "left")
        .join(
            c1.hint("shuffle_hash").withColumnRenamed("w", "_w1")
            .withColumnRenamed("c1", "_c1w1"),
            "_w1",
            "left",
        )
        .join(
            c1.hint("shuffle_hash").withColumnRenamed("w", "_w2")
            .withColumnRenamed("c1", "_c1w2"),
            "_w2",
            "left",
        )
        .crossJoin(F.broadcast(n_total))
        # both branches in DECIMAL(38,0): c2/c1 are corpus token counts
        # (c2 * 1e6 leaves int64 past ~9.2e12 reference tokens — inside
        # the design envelope; self-review r14, functions.exactmath).
        # The per-occurrence score itself is <= 1e6, so the final
        # bigint lm_sum below is unchanged in type and value.
        .withColumn(
            "_s",
            F.expr(
                "CASE WHEN c2 IS NOT NULL THEN "
                + dec_idiv_sql("CAST(c2 AS DECIMAL(38,0)) * 1000000", "_c1w1")
                + " WHEN _c1w2 IS NOT NULL THEN "
                + dec_idiv_sql(
                    "2 * CAST(_c1w2 AS DECIMAL(38,0)) * 1000000",
                    "5 * CAST(n_total AS DECIMAL(38,0))",
                )
                + " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("_s").cast("bigint").alias("lm_sum"),
        )
        .withColumn(
            "lm_score",
            F.col("lm_sum").cast("double") / F.col("n_bigrams").cast("double"),
        )
    )


def token_rarity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean token rarity per document — the integer-arithmetic stand-in
    for the unigram-LM "perplexity" quality gate of CCNet-style
    curation (docs whose tokens are uniformly common read as boilerplate;
    docs full of corpus-rare tokens read as noise/garble; the useful
    middle band is what a mixture keeps).

    Rarity of one token occurrence = ``(n_total_tokens * 1e6) DIV tf``
    — the same integer idf-proxy discipline as tfidf_top_terms/bm25
    (a true ln-perplexity needs libm and would not value-check across
    engines), computed in DECIMAL(38,0) because ``n_total * 1e6``
    leaves int64 once the corpus passes ~9.2e12 tokens — roughly
    50 TB of text, i.e. INSIDE the design envelope (self-review r14;
    ``functions.exactmath`` documents why DIV/FLOOR can't widen).
    ``mean_rarity`` is ONE double division of two exact integers, so
    it is bit-identical on any IEEE engine.

    Scale shape: explode → (term) partial-agg shuffle for corpus term
    frequencies → join back on term — pinned ``shuffle_hash`` because
    BOTH sides descend from an explode (the house rule: explode-derived
    frames have garbage size estimates, never leave their join strategy
    to the static planner) → final (doc) agg. Total tokens arrive via
    a 1-row broadcast. All exchanges carry (id, int64) pairs.
    """
    from data_pengadaan_agent_spark.sources.catalog import spread

    occ = spread(df, id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    # aggregate BEFORE the term shuffle (r14, guide §2.3): one
    # (doc, term, cnt) partial-combine collapses repeated tokens so
    # the join probe ships per-(doc, term) rows instead of every
    # occurrence, and the corpus-tf aggregate now derives from the
    # same exchange instead of re-exploding the corpus (the r13 shape
    # tokenized twice). rarity_sum = Σ cnt·rarity ≡ the per-occurrence
    # sum exactly (integer × integer in DECIMAL(38,0)).
    per = occ.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tf = per.groupBy("term").agg(F.sum("cnt").cast("bigint").alias("tf"))
    total = tf.agg(F.sum("tf").cast("bigint").alias("n_total"))
    return (
        per.join(tf.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "rarity",
            F.expr(
                dec_idiv_sql("CAST(n_total AS DECIMAL(38,0)) * 1000000", "tf")
            ),
        )
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            # the Σ cnt·rarity fold stays DECIMAL(38,0) (exact, no
            # wrap) but crosses the output edge as guarded BIGINT
            # (r15 driver-gate fix — exactmath.dec_to_bigint_sql):
            # per-doc sums fit int64 below ~9.2e12 corpus tokens and
            # past that the query fails loudly instead of diverging.
            F.sum(F.col("rarity") * F.col("cnt"))
            .cast("decimal(38,0)")
            .alias("_rarity_dec"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr(dec_to_bigint_sql("_rarity_dec", "token_rarity.rarity_sum")).alias(
                "rarity_sum"
            ),
        )
        .withColumn(
            "mean_rarity",
            F.col("rarity_sum").cast("double") / F.col("n_tokens").cast("double"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate audit: a word n-gram occurring in at
    least ``min_docs`` DISTINCT documents is boilerplate (navigation
    chrome, license headers, templated footers — the C4/CCNet cleanup
    target); emitted per document is the share of its distinct n-grams
    that are boilerplate. ``ngram_contamination`` is the train-vs-test
    twin of this join core; here the corpus is audited against itself.

    Scale shape (optimization r14, guide §1.2/§2.4): the
    ``distinct_hashed_ngrams`` core feeds exactly TWO consumers — the
    document-frequency aggregate and the probe side of ONE left join
    against the (small, ``min_docs``-filtered) boilerplate marker —
    and per-doc totals and boiler counts come out of a SINGLE
    ``groupBy(id)`` over the joined rows. The previous
    totals ⟕ hits split cost a third explode+distinct pass AND a
    second corpus scan: the final join's ``IsNotNull(id)`` pushdown
    reached only the hits branch, making the two scan subtrees
    canonically different, so exchange reuse could not fire (measured:
    2 scans / 3 Generates → 1 scan / 2 Generates; the surviving
    second Generate is the recompute-vs-materialize trade documented
    at ``dup_spans`` — gram rows are corpus-sized, recompute wins at
    scale). Every exchange still carries (id, int64) — n-gram text
    never shuffles — and the join build side is still only the
    boilerplate grams, pinned ``shuffle_hash`` per the explode-
    descended house rule. Docs shorter than ``n`` words have no
    n-grams and are absent from the output by contract. (A doc with
    NULL id now gets its true boiler count; the old shape's final
    join on id silently zeroed it. No fixture carries null ids —
    value-checked identical — and the twin's tot⟕hit shape agrees on
    every non-null id.)"""
    g = distinct_hashed_ngrams(df, n, text_col, id_col)
    boiler = (
        g.groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_docs"))
        .filter(F.col("df_docs") >= min_docs)
        .select("g", F.lit(1).cast("bigint").alias("_is_b"))
    )
    per_doc = (
        g.join(boiler.hint("shuffle_hash"), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.coalesce(F.sum("_is_b"), F.lit(0)).cast("bigint").alias("n_boiler"),
        )
    )
    nb = F.col("n_boiler")
    return per_doc.select(
        F.col(id_col),
        F.col("n_ngrams"),
        F.col("n_boiler"),
        F.round(nb / F.col("n_ngrams"), 6).alias("boilerplate_frac"),
        (nb * 2 >= F.col("n_ngrams")).alias("mostly_boilerplate"),
    )


def length_outlier_band(
    df: DataFrame,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-length percentile band filter: flag documents whose
    whitespace token count falls outside the corpus's exact
    [p_lo, p_hi] percentile band — the standard "drop truncated
    fragments and runaway concatenations" curation gate, with the
    band derived FROM the corpus instead of hand-tuned constants.

    Percentiles are EXACT (``percentile``, linear interpolation at
    rank p·(n−1) — the same definition DuckDB's ``quantile_cont``
    uses, so the bounds value-check across engines). At 100 TB exact
    percentiles of a bigint column are one total-agg pass (Spark
    partial-aggregates per partition and merges count maps — token
    counts have tiny cardinality, ~thousands of distinct lengths);
    swap in ``approx_percentile`` only if the value domain were
    unbounded. The 1-row bounds frame joins back via broadcast, so
    the operator costs two passes over the input (one for the bounds
    aggregate, one for the flagged output) with ZERO row exchanges —
    the right trade at scale, where a second scan is cheaper than
    shuffling the corpus."""
    n_tok = F.size(tokens(text_col)).cast("bigint")
    base = df.select(F.col(id_col), n_tok.alias("n_tokens"))
    bounds = base.agg(
        F.percentile(F.col("n_tokens"), F.lit(float(p_lo))).alias("lo"),
        F.percentile(F.col("n_tokens"), F.lit(float(p_hi))).alias("hi"),
    )
    in_band = (F.col("n_tokens") >= F.col("lo")) & (
        F.col("n_tokens") <= F.col("hi")
    )
    return base.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(F.col("lo"), 6).alias("p_lo"),
        F.round(F.col("hi"), 6).alias("p_hi"),
        in_band.alias("in_band"),
    )


def decontaminate_train(
    train_df: DataFrame,
    test_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_overlap: int = 0,
) -> DataFrame:
    """Benchmark decontamination as a FILTER: drop from the training
    corpus every document sharing more than ``max_overlap`` distinct
    word n-grams with the evaluation corpus, returning the surviving
    train rows unchanged (``ngram_contamination`` is the AUDIT twin —
    same join core with the roles reversed; this is the step that acts
    on it, GPT-3 appendix-C style).

    Scale shape (optimization r14): the contaminated-id set comes from
    the overlap core's hits aggregate DIRECTLY — the old path built the
    full ``ngram_contamination`` audit and filtered it, which executed
    the audit's per-doc totals branch (one more explode+distinct pass
    over the training corpus plus its scan and the totals ⟕ hits join)
    only for the anti-join to discard everything but the ids. A doc
    with zero overlapping n-grams has no hits row and n_overlap 0 on
    the audit path — identical survivor sets for every
    ``max_overlap >= 0`` (negative values, which would have dropped
    zero-overlap docs too, are rejected loudly). The exchanges all
    carry (id, int64) hashed n-grams; the final step is a left-anti
    join of train against the (small) contaminated-id set, so full
    text crosses no exchange."""
    if max_overlap < 0:
        raise ValueError("decontaminate_train: max_overlap must be >= 0")
    _, hits = _overlap_hits(train_df, test_df, n, text_col, id_col)
    bad = hits.filter(F.col("n_overlap") > max_overlap).select(id_col)
    return train_df.join(bad.hint("shuffle_hash"), id_col, "left_anti")


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source corpus datasheet — the one-pass summary a curation
    run publishes alongside the data (Gebru et al.'s "Datasheets for
    Datasets" rollup, reduced to what is computable from the corpus
    itself): document and distinct-content counts, exact-dup rate,
    token volume with mean and exact median length, language spread,
    and character volume.

    Everything is exact arithmetic so the report value-checks
    cross-engine: the mean is an exact BIGINT sum over the count, the
    median is the exact interpolated percentile (one in-group
    aggregate — token counts have tiny cardinality, so the percentile
    state stays small even at 100 TB; swap approx_percentile if the
    domain were unbounded). ONE scan, one partial-aggregated exchange
    on the (tiny) source key; the distinct-content count rides the
    same aggregate via a pre-hashed column."""
    t = tokens(text_col)
    base = df.select(
        F.col(source_col),
        F.col(lang_col),
        # NULL-guarded: xxhash64(NULL) is the seed (42), not NULL — an
        # unguarded hash would make count_distinct treat NULL texts as
        # one distinct content while SQL's count(DISTINCT text)
        # ignores them
        F.when(
            F.col(text_col).isNotNull(), F.xxhash64(F.col(text_col))
        ).alias("_h"),
        F.size(t).cast("bigint").alias("_n_tok"),
        F.length(F.col(text_col)).cast("bigint").alias("_n_chars"),
    )
    return (
        base.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct(F.col("_h")).cast("bigint").alias("n_distinct_texts"),
            F.sum("_n_tok").cast("bigint").alias("n_tokens_total"),
            F.percentile(F.col("_n_tok"), F.lit(0.5)).alias("_med"),
            F.count_distinct(F.col(lang_col)).cast("bigint").alias("n_langs"),
            F.sum("_n_chars").cast("bigint").alias("n_chars_total"),
        )
        .select(
            F.col(source_col),
            "n_docs",
            "n_distinct_texts",
            F.round(
                (F.col("n_docs") - F.col("n_distinct_texts"))
                / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            "n_tokens_total",
            F.round(
                F.col("n_tokens_total") / F.col("n_docs").cast("double"), 6
            ).alias("mean_tokens"),
            F.round(F.col("_med"), 6).alias("median_tokens"),
            "n_langs",
            "n_chars_total",
        )
    )


def _ngram_bucket_col(col, n_buckets: int, arith_hash: bool):
    """Hash an n-gram string column into [0, n_buckets) — xxhash64
    (JVM codegen) in production, the polynomial rolling hash when a
    plain-SQL oracle must replicate the bucketing bit-for-bit."""
    if arith_hash:
        from data_pengadaan_agent_spark.operators.dedup import poly_hash_col

        return F.pmod(poly_hash_col(col), F.lit(int(n_buckets)))
    return F.pmod(F.xxhash64(col), F.lit(int(n_buckets)))


def _ngram_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    n_buckets: int,
    arith_hash: bool,
) -> DataFrame:
    """(id, bucket) row per n-gram occurrence — 8-byte features the
    moment the text is tokenized (hash-before-shuffle rule)."""
    from data_pengadaan_agent_spark.sources.catalog import spread

    return (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("g"))
        .select(
            F.col(id_col),
            _ngram_bucket_col(F.col("g"), n_buckets, arith_hash).alias("b"),
        )
    )


def _doc_bucket_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    n_buckets: int,
    arith_hash: bool,
) -> DataFrame:
    """(id, bucket, count) — per-document hashed-n-gram bag, ONE
    tokenize pass. A doc's exploded rows never leave its input
    partition (explode is narrow; spread() moves whole pre-explode
    rows), so a PER-PARTITION count is globally exact — an Arrow
    kernel does it in Python memory with zero exchange and zero JVM
    hash-map state (a global groupBy(id,b) here built a
    Σ distinct-(doc,bucket)-group HashAggregate that OOM'd a 1g
    driver at docs ×64 before it could even spill). Hashing stays
    JVM-side (xxhash64 / poly-hash column exprs); the kernel only
    counts."""
    feats = _ngram_features(df, text_col, id_col, n, n_buckets, arith_hash)
    id_type = feats.schema[id_col].dataType.simpleString()

    def _count_partition(batches):
        import pandas as pd

        partials = []
        for pdf in batches:
            if len(pdf):
                partials.append(
                    pdf.groupby([id_col, "b"], sort=False)
                    .size()
                    .reset_index(name="c")
                )
        if partials:
            merged_p = (
                pd.concat(partials, ignore_index=True)
                .groupby([id_col, "b"], sort=False)["c"]
                .sum()
                .reset_index()
            )
            yield merged_p

    return feats.mapInPandas(
        _count_partition, schema=f"{id_col} {id_type}, b bigint, c bigint"
    )


def dsir_importance(
    raw_df: DataFrame,
    target_df: DataFrame,
    n: int = 2,
    n_buckets: int = 8192,
    smoothing: float = 1.0,
    keep_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    arith_hash: bool = False,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    DSIR): score every RAW document by how much its hashed-n-gram
    feature distribution looks like a (small, high-quality) TARGET
    corpus rather than the raw pool — the standard "select web text
    that reads like Wikipedia/books" pretraining gate, one rung above
    hand-written quality heuristics.

    score(d) = Σ_{n-gram g ∈ d} log p̂_target(bucket(g))
                               − log p̂_raw(bucket(g))
    with add-``smoothing`` estimates over ``n_buckets`` hashed
    buckets, counted WITH multiplicity (the bag-of-ngrams generative
    model). Documents with per-feature mean log-ratio above the
    corpus (1 − keep_frac) percentile get ``keep`` = true — the
    deterministic top-fraction variant of DSIR's Gumbel resampling
    (swap in Gumbel noise per doc for the sampled form).

    Scale shape: each side explodes to (id, bucket-int) rows — the
    hash-before-shuffle rule, 8-byte features on the wire — then the
    RAW side immediately pre-aggregates to (id, bucket, count) rows
    (map-side partial combine compresses n-gram multiplicity BEFORE
    the exchange, so wire rows are Σ distinct-(doc,bucket), not
    Σ tokens — the round-7 fix for the 0.84 ×16→×64 exponent this
    join carried). That compact frame is checkpointed once and feeds
    BOTH the per-bucket raw counts and the per-doc scoring, so the
    raw corpus is tokenized exactly once (previously twice). The two
    count frames full-outer-merge into one ≤n_buckets-row log-ratio
    table that is explicitly broadcast (known-bounded by the
    parameter — the explode-lineage broadcast ban applies to planner
    GUESSES, not to hand-broadcast parameter-bounded aggregates).
    Per-doc scores are one partial-aggregated exchange on the id
    summing count·lr — identical to the per-token sum by linearity
    of the exact DECIMAL arithmetic (count cast DECIMAL(9,0), so the
    product is DECIMAL(38,9) with no precision loss; a single doc
    repeating one bucket ≥1e9 times would overflow LOUDLY under
    ANSI). The keep threshold is a 1-row percentile aggregate
    broadcast back (the length_outlier_band two-pass trade).
    Per-bucket log-ratios are rounded to 9 places and summed as
    DECIMAL, so accumulation order can never drift the score across
    partitionings or engines (the embedding_qa discipline).

    Contract note (ADVICE r6): raw documents with fewer than ``n``
    tokens produce zero n-grams and are EXCLUDED from the verdict —
    they get neither keep=true nor keep=false. Callers joining the
    verdict back to the pool must left-join and decide a policy for
    the missing ids (the reference pipeline treats featureless docs
    as rejected).

    ``arith_hash=True`` buckets n-grams with the polynomial rolling
    hash (``poly_hash_col``) instead of xxhash64 — bit-replicable in
    plain SQL, so a DuckDB oracle can value-check the whole operator
    (the minhash ``*_arith`` twin discipline); xxhash64 stays the
    production default (JVM-side, no interpreted per-char fold)."""
    B = int(n_buckets)
    s = float(smoothing)

    # ONE raw-corpus explode: pre-aggregate to (id, bucket, count)
    # right after the explode (_doc_bucket_counts — the Arrow kernel;
    # see its docstring for the doc-locality argument and the ×64 OOM
    # history). Checkpoint DISK_ONLY: this is the one corpus-
    # PROPORTIONAL checkpoint in the operator (24-byte rows, far
    # smaller than re-tokenizing the text it replaces, but still
    # O(corpus)) — the no-corpus-scale-memory-pins house rule.
    from pyspark import StorageLevel

    raw_doc_counts = _doc_bucket_counts(
        raw_df, text_col, id_col, n, B, arith_hash
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    tgt_counts = (
        _ngram_features(target_df, text_col, id_col, n, B, arith_hash)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    raw_counts = raw_doc_counts.groupBy("b").agg(F.sum("c").alias("cr"))
    merged = tgt_counts.join(raw_counts, "b", "full_outer").select(
        "b",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    totals = merged.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    lr = (
        F.log((F.col("ct") + F.lit(s)) / (F.col("tt") + F.lit(s * B)))
        - F.log((F.col("cr") + F.lit(s)) / (F.col("tr") + F.lit(s * B)))
    )
    # Cut lineage at every reused intermediate (the corpus_pipeline
    # lesson: every re-reference re-EXECUTES the upstream plan — a
    # first cut re-exploded the raw corpus four times, 26 exchanges):
    # raw_doc_counts is Σ distinct-(doc,bucket) 24-byte rows (text
    # never leaves its explode stage), lr_table is ≤n_buckets rows,
    # scores is one narrow row per doc. Each corpus is tokenized
    # exactly ONCE.
    lr_table = (
        merged.crossJoin(F.broadcast(totals))
        .select("b", F.round(lr, 9).cast("decimal(28,9)").alias("lr"))
        .localCheckpoint(eager=True)
    )
    # Σ c·lr ≡ the per-token Σ lr by linearity; exact DECIMAL multiply
    # (9,0)×(28,9) → (38,9), no precision loss, order-independent.
    scores = (
        raw_doc_counts.join(F.broadcast(lr_table), "b")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.sum(F.col("c").cast("decimal(9,0)") * F.col("lr")).alias(
                "_score"
            ),
        )
        .select(
            F.col(id_col),
            "n_feats",
            (F.col("_score").cast("double") / F.col("n_feats"))
            .alias("_avg"),
        )
        # one narrow row per doc — still O(corpus) rows, so disk, not
        # memory (the no-corpus-scale-memory-pins house rule)
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    thresh = scores.agg(
        F.percentile(F.col("_avg"), F.lit(1.0 - float(keep_frac))).alias("thr")
    )
    return scores.crossJoin(F.broadcast(thresh)).select(
        F.col(id_col),
        "n_feats",
        F.round(F.col("_avg"), 6).alias("avg_log_ratio"),
        (F.col("_avg") >= F.col("thr")).alias("keep"),
    )


def train_quality_weights(
    pos_df: DataFrame,
    neg_df: DataFrame,
    n: int = 2,
    n_buckets: int = 8192,
    smoothing: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    arith_hash: bool = False,
) -> DataFrame:
    """Train the weight table for ``quality_classifier``: per-bucket
    smoothed log-odds of a labeled POSITIVE (high-quality: wiki,
    books, curated) vs NEGATIVE (low-quality: spam, boilerplate)
    corpus — the Naive-Bayes closed form of the CCNet/RedPajama-style
    linear quality scorer, trainable in ONE distributed pass (no
    gradient loop):

        w(b) = log p̂_pos(b) − log p̂_neg(b)   (add-``smoothing``)

    Naive Bayes IS a linear model over the hashed bag-of-n-grams, so
    applying these weights with ``quality_classifier`` is the same
    sigmoid(w·x + b) family fastText fits discriminatively — the
    closed form trades a few points of accuracy for one-pass
    trainability at corpus scale. Externally-trained (fastText,
    sklearn) weights can be loaded into the same (b, w) shape and
    applied identically: weights are data, not code.

    Scale shape: two explodes collapse immediately to ≤n_buckets
    count rows each (map-side partial combine), one full-outer merge,
    zero corpus-sized shuffles. Weights are rounded to 9 places as
    DECIMAL(28,9) — the exact-sum discipline (see dsir_importance).

    Ref parity note: the reference has no trained scorer (my_toolkit
    quality filtering is keyword CNF, reference my_toolkit.py:1);
    this is part of the beyond-reference curation family."""
    B = int(n_buckets)
    s = float(smoothing)
    pos_counts = (
        _ngram_features(pos_df, text_col, id_col, n, B, arith_hash)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cp"))
    )
    neg_counts = (
        _ngram_features(neg_df, text_col, id_col, n, B, arith_hash)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    # materialize the merged per-bucket counts ONCE: ≤n_buckets rows,
    # but consumed twice (the totals aggregate and the weight select)
    # — lazily that re-ran BOTH corpus feature passes per consumer
    # (r14, guide §1.2: don't compute things twice)
    merged = (
        pos_counts.join(neg_counts, "b", "full_outer")
        .select(
            "b",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
        .localCheckpoint(eager=True)
    )
    totals = merged.agg(F.sum("cp").alias("tp"), F.sum("cn").alias("tn"))
    w = (
        F.log((F.col("cp") + F.lit(s)) / (F.col("tp") + F.lit(s * B)))
        - F.log((F.col("cn") + F.lit(s)) / (F.col("tn") + F.lit(s * B)))
    )
    return merged.crossJoin(F.broadcast(totals)).select(
        "b", F.round(w, 9).cast("decimal(28,9)").alias("w")
    )


def quality_classifier(
    docs: DataFrame,
    weights: DataFrame,
    n: int = 2,
    n_buckets: int = 8192,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    arith_hash: bool = False,
) -> DataFrame:
    """Apply a linear document-quality model over hashed n-gram
    features — the supervised scorer slot of a pretraining pipeline
    (CCNet / RedPajama "quality classifier"): score every document
    with a (bucket → weight) parameter table (from
    ``train_quality_weights`` or an externally-trained model) and
    gate on a FIXED decision threshold.

        logit(d) = Σ_g w(bucket(g)) / n_feats(d),   keep = logit ≥ t

    The mean-normalized logit is the length-invariant form (fastText
    averages feature vectors the same way). The sigmoid is monotone,
    so thresholding the logit IS thresholding the probability —
    emitting the logit keeps the operator free of ``exp`` and
    bit-reproducible on a SQL engine (the bm25 fixed-IEEE
    discipline).

    vs ``dsir_importance``: DSIR matches the raw pool to a target
    DISTRIBUTION with a per-corpus percentile cut (relative, needs
    the whole pool); this is a SUPERVISED pos/neg decision with an
    absolute threshold — appliable to one document in isolation,
    which is what a streaming ingest gate needs.

    Scale shape: one tokenize pass into the per-partition Arrow
    count kernel (zero exchange — see _doc_bucket_counts), one
    broadcast of the ≤n_buckets weight table, one partial-aggregated
    per-doc exchange of compact (id, decimal) rows; no percentile
    pass, no checkpoint (single consumer). Sub-``n``-token documents
    have no features and are excluded from the verdict (the
    dsir_importance contract).
    """
    B = int(n_buckets)
    counts = _doc_bucket_counts(docs, text_col, id_col, n, B, arith_hash)
    wtab = weights.select(
        F.col("b").cast("bigint").alias("b"),
        F.col("w").cast("decimal(28,9)").alias("w"),
    )
    # LEFT join: a bucket absent from the weight table (out-of-
    # vocabulary under this model) contributes weight 0 but still
    # counts toward n_feats — silently dropping OOV features would
    # inflate the mean of mostly-unseen documents.
    return (
        counts.join(F.broadcast(wtab), "b", "left")
        .withColumn(
            "w", F.coalesce(F.col("w"), F.lit(0).cast("decimal(28,9)"))
        )
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.sum(F.col("c").cast("decimal(9,0)") * F.col("w")).alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_feats",
            F.round(
                F.col("_s").cast("double") / F.col("n_feats"), 6
            ).alias("logit"),
            (
                F.col("_s").cast("double") / F.col("n_feats")
                >= F.lit(float(threshold))
            ).alias("keep"),
        )
    )


def quality_classifier_stateless(
    docs: DataFrame,
    weights: DataFrame,
    n: int = 2,
    n_buckets: int = 8192,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-ROW twin of ``quality_classifier`` for STREAMING ingest
    gates: one stateless ``mapInPandas`` pass scores each document in
    isolation — no explode, no groupBy — so it drops straight into a
    Structured Streaming query in append mode (a streaming groupBy
    would demand a watermark and hold per-doc state; a per-row scorer
    holds none). This is the gate ``quality_classifier``'s docstring
    promises: the weight table is the model, the decision needs only
    the one document.

    Bit-parity contract (pinned by pytest): the kernel replicates the
    ARITH hash family exactly — Spark's ``split(lower(trim(x)),
    '\\s+')`` tokenization, space-joined n-grams, and the
    ``poly_hash_col`` per-char fold mod P31 — and sums weight·count
    in SCALED-INTEGER arithmetic (DECIMAL(28,9) weights × 10^9, exact
    int sums, order-free), emitting the RAW logit; the final
    ``F.round`` column expression does the rounding, so every row is
    bit-identical to the batch operator's DECIMAL path. xxhash64 is
    JVM-only, hence no ``arith_hash=False`` here — a production
    stream wanting xxhash64 uses
    ``streaming.windows.foreach_batch_classify_sink`` (the batch
    operator inside foreachBatch, parity-tested).

    PRODUCTION DEFAULT (measured, round 9, sf0.1 = 5k docs, warm ×3):
    the foreachBatch sink path (batch classifier, JVM xxhash64 +
    Arrow count kernel) scores the corpus in 0.86–1.02 s vs this
    kernel's 1.33–1.44 s — ~1.5× faster, and the gap grows with
    document length because the per-gram Python poly-hash loop is
    this kernel's cost center while the sink path never leaves
    JVM/Arrow. RECOMMENDATION: default production streams to
    ``foreach_batch_classify_sink`` (it also dedups per epoch and its
    sink ≡ batch kept-set is parity-tested); reach for this stateless
    kernel only when the pipeline needs a pure append-mode OPERATOR —
    the verdict as a column mid-stream (feeding further streaming
    stages) rather than at a sink boundary, or multi-sink topologies
    where foreachBatch's epoch side-effects don't compose.

    Scale shape: weights are collected once (≤``n_buckets`` rows —
    parameter-bounded, the broadcast-dim budget) into the closure;
    per-ngram hashes are memoized per batch (Zipfian corpora repeat
    the same n-grams constantly). State: none. Sub-``n``-token
    documents are excluded from the verdict (the batch contract).
    ``carry`` passes input columns (e.g. text) through unchanged."""
    import re

    from decimal import Decimal

    from data_pengadaan_agent_spark.operators.dedup import P31

    B = int(n_buckets)
    nn = int(n)
    thr = float(threshold)
    wmap: dict[int, int] = {}
    for r in weights.select("b", "w").collect():
        # DECIMAL(28,9) → exact ×10^9 integer; int sums are exact and
        # order-free, like the batch DECIMAL aggregate
        wmap[int(r["b"])] = int(Decimal(r["w"]).scaleb(9))
    id_type = docs.schema[id_col].dataType.simpleString()
    carry_schema = "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in carry
    )
    # Java-regex parity, not Python-regex convenience: Spark's
    # split(lower(trim(x)), '\\s+') means (a) trim strips ONLY the
    # ASCII space 0x20, (b) Java \\s is exactly [ \\t\\n\\x0B\\f\\r]
    # (Python's \\s would also eat NBSP and other Unicode spaces),
    # and (c) split keeps trailing empty tokens (limit -1). A kernel
    # using str.strip() + r"\\s+" silently diverges on tab/NBSP-edged
    # text — pinned by the whitespace-edge parity test.
    ws_re = re.compile(r"[ \t\n\x0B\f\r]+")

    def score(batches):
        import pandas as pd

        memo: dict[str, int] = {}

        def bucket(g: str) -> int:
            b = memo.get(g)
            if b is None:
                acc = 0
                for ch in g if g else "\x00":
                    # ascii('') is 0 in Spark; '' only arises for
                    # empty n-grams, which the <n-token guard excludes
                    acc = (acc * 131 + (ord(ch) if g else 0)) % P31
                b = acc % B
                memo[g] = b
            return b

        for pdf in batches:
            out_rows = []
            carry_vals = [pdf[c].tolist() for c in carry]
            for i, (rid, text) in enumerate(
                zip(pdf[id_col].tolist(), pdf[text_col].tolist())
            ):
                toks = (
                    ws_re.split(str(text).strip(" ").lower())
                    if text is not None
                    else []
                )
                if len(toks) < nn:
                    continue  # featureless: excluded from the verdict
                grams = (
                    toks
                    if nn == 1
                    else [
                        " ".join(toks[j : j + nn])
                        for j in range(len(toks) - nn + 1)
                    ]
                )
                s = 0
                for g in grams:
                    s += wmap.get(bucket(g), 0)
                nf = len(grams)
                # int/int true division rounds once to the nearest
                # double — same value as the batch DECIMAL(38,9) sum
                # cast to double — then one double division by n_feats
                raw = s / 10**9 / nf
                out_rows.append(
                    [rid, nf, raw, raw >= thr]
                    + [cv[i] for cv in carry_vals]
                )
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=[id_col, "n_feats", "_raw", "keep"] + list(carry),
                )

    src = docs
    if not docs.isStreaming:
        # the per-gram scoring loop is the cost center; a single-split
        # batch input (parity tests, small tables) would run it on one
        # core. No-op on a stream (sources size their own splits) and
        # on any multi-split table.
        from data_pengadaan_agent_spark.sources.catalog import spread

        src = spread(docs, id_col)
    scored = src.mapInPandas(
        score,
        schema=(
            f"{id_col} {id_type}, n_feats bigint, _raw double, "
            f"keep boolean{carry_schema}"
        ),
    )
    return scored.select(
        F.col(id_col),
        "n_feats",
        F.round("_raw", 6).alias("logit"),
        "keep",
        *[F.col(c) for c in carry],
    )


"""Sketch-based approximations (the 100 TB swap-ins) within tolerance
of their exact twins, plus hypothesis property tests for the semantic
traps and integer-hash parity."""

from __future__ import annotations

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# Whole module: brute-force-reference / hypothesis property sweeps —
# the heaviest test class in the suite. Excluded from the default
# run (driver window, VERDICT r14 ask #2); included at round close
# via SPARK_GRAFT_SLOW_TESTS=1.
pytestmark = pytest.mark.slow

from data_pengadaan_agent_spark.functions.vectors import hash_ngram_embed
from data_pengadaan_agent_spark.operators.filters import keyword_cnf


def test_approx_count_distinct_tolerance(spark, tables):
    ev = tables["events"]
    exact = ev.select(F.countDistinct("user_id")).first()[0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.1


def test_approx_percentile_tolerance(spark, tables):
    li = tables["lineitem"]
    exact = li.select(F.expr("percentile(l_extendedprice, 0.5)")).first()[0]
    approx = li.select(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
    ).first()[0]
    assert abs(approx - exact) / exact < 0.05


_token = st.text(alphabet="abcdefghij", min_size=1, max_size=6)


@settings(max_examples=25, deadline=None)
@given(st.lists(_token, min_size=1, max_size=5, unique=True), _token)
def test_substring_cnf_property(spark, keywords, probe):
    """P3 substring semantics: a row matches iff the probe is a
    substring of the comma-joined keyword list — independent of token
    boundaries (the alat/peralatan trap generalized)."""
    joined = ",".join(keywords)
    df = spark.createDataFrame([(joined,)], "kw string")
    got = df.filter(keyword_cnf(F.col("kw"), include=[[probe]])).count()
    assert got == (1 if probe in joined else 0)


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=24))
def test_hash_ngram_embed_properties(text):
    """Embedder invariants: fixed dim, integer votes, total |votes| ==
    number of grams (one ±1 vote per character position), case-fold."""
    v = hash_ngram_embed(text)
    assert len(v) == 64
    assert all(float(x).is_integer() for x in v)
    assert sum(abs(int(x)) for x in v) <= max(len(text), 1)
    assert v == hash_ngram_embed(text.upper())


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(_token, min_size=3, max_size=8),
        min_size=2,
        max_size=6,
    )
)
def test_boilerplate_ngrams_invariants(spark, docs):
    """For any corpus: 0 <= n_boiler <= n_ngrams per doc; a doc whose
    text duplicates another doc's has every n-gram boilerplate; docs
    shorter than n are absent."""
    from data_pengadaan_agent_spark.operators.textan import boilerplate_ngrams

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # plant one exact duplicate of doc 0 at a fresh id
    rows.append((len(rows), rows[0][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in boilerplate_ngrams(df, n=3, min_docs=2).collect()}
    for r in out.values():
        assert 0 <= r["n_boiler"] <= r["n_ngrams"]
        assert abs(r["boilerplate_frac"] - round(r["n_boiler"] / r["n_ngrams"], 6)) < 1e-9
    if len(docs[0]) >= 3:
        # doc 0 and its duplicate: every distinct 3-gram shared
        assert out[0]["n_boiler"] == out[0]["n_ngrams"]
        assert out[len(rows) - 1]["n_boiler"] == out[len(rows) - 1]["n_ngrams"]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=50), min_size=3, max_size=12))
def test_length_outlier_band_invariants(spark, counts):
    """Band bounds lie within [min, max] token count; in_band is
    monotone (anything between two in-band counts is in-band); the
    full corpus is returned."""
    from data_pengadaan_agent_spark.operators.textan import length_outlier_band

    rows = [(i, " ".join(["w"] * c)) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_outlier_band(df, p_lo=0.25, p_hi=0.75).collect()
    assert len(out) == len(rows)
    lo, hi = out[0]["p_lo"], out[0]["p_hi"]
    assert min(counts) <= lo <= hi <= max(counts)
    for r in out:
        assert r["in_band"] == (lo <= r["n_tokens"] <= hi)


@settings(max_examples=4, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=3, max_value=17),
    st.sampled_from([1, 2, 3]),
)
def test_semdedup_guard_equivalence_property(spark, seed, cap, k):
    """The blocked over-cap kernel must produce byte-identical output
    to the single-cluster Gram kernel for ANY input/cap/k — the guard
    changes the execution plan, never the semantics. Random seeded
    vectors, tiny caps so the blocked path always engages."""
    import random

    from data_pengadaan_agent_spark.operators.similarity import semdedup_prune

    rng = random.Random(seed)
    n = 40
    rows = []
    for i in range(n):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base]))
        # sprinkle exact-direction dups so pruning does real work
        if i % 7 == 0:
            rows.append((i + 1000, [float(x * 1.5) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    guarded = semdedup_prune(
        df, k=k, iters=2, threshold=0.9, cluster_cap=cap
    )
    unguarded = semdedup_prune(
        df, k=k, iters=2, threshold=0.9, cluster_cap=10**9
    )
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, unguarded.collect())
    )


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_dedup_passages_idempotent_property(spark, docs):
    """dedup_passages is IDEMPOTENT: a second application changes
    nothing. This holds because each doc's only partial passage is its
    last, so rebuilt texts re-split on the same window boundaries and
    every surviving passage is already globally unique. Also pins the
    coverage invariant: the union of kept passages equals the distinct
    passages of the input."""
    from data_pengadaan_agent_spark.operators.dedup import dedup_passages

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    once = dedup_passages(df, window=4)
    twice = dedup_passages(
        once.select("doc_id", "text").filter(F.length("text") > 0), window=4
    )
    first = {r["doc_id"]: r["text"] for r in once.collect()}
    second = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert second == {k: v for k, v in first.items() if v != ""}

    # coverage: kept passages across docs == distinct input passages
    def passages(text):
        toks = text.split()
        return [
            " ".join(toks[i : i + 4]) for i in range(0, max(len(toks), 1), 4)
        ]

    kept = [p for t in first.values() if t for p in passages(t)]
    want = set()
    for toks in docs:
        want.update(passages(" ".join(toks)))
    assert sorted(kept) == sorted(set(kept))  # no passage survives twice
    assert set(kept) == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(
            # letters + every Java-\s char + NBSP + punctuation: the
            # alphabet that distinguishes Java regex semantics from
            # Python's (trim-only-space, \s-excludes-NBSP, trailing
            # empty tokens)
            alphabet="ab c\td\ne\x0b\f\r\xa0.!",
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_quality_gate_stateless_parity_property(spark, texts):
    """For ANY text — including whitespace-pathological strings — the
    per-row streaming kernel must agree with the batch classifier on
    exactly which docs get verdicts and on every (n_feats, logit)."""
    from data_pengadaan_agent_spark.operators.textan import (
        quality_classifier,
        quality_classifier_stateless,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    w = spark.createDataFrame(
        [(0, "0.25"), (1, "-1.5")], "b long, w string"
    ).select("b", F.col("w").cast("decimal(28,9)").alias("w"))
    batch = {
        r["doc_id"]: (r["n_feats"], r["logit"], r["keep"])
        for r in quality_classifier(
            df, w, n=2, n_buckets=2, threshold=0.0, arith_hash=True
        ).collect()
    }
    per_row = {
        r["doc_id"]: (r["n_feats"], r["logit"], r["keep"])
        for r in quality_classifier_stateless(
            df, w, n=2, n_buckets=2, threshold=0.0
        ).collect()
    }
    assert per_row == batch


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=14),
        min_size=2,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_dup_spans_matches_bruteforce_reference(spark, corpora, length):
    """dup_spans == an independent brute-force reference on random
    tiny-alphabet corpora (a 2-letter alphabet forces heavy organic
    duplication, exercising merge/overlap paths no hand fixture
    covers): a position is duplicated iff its L-gram occurs >= 2
    times corpus-wide; maximal spans merge positions with gap <= L."""
    from collections import Counter

    from data_pengadaan_agent_spark.operators.textan import dup_spans

    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    grams = {}
    cnt = Counter()
    for i, toks in enumerate(corpora):
        g = [tuple(toks[p : p + length]) for p in range(len(toks) - length + 1)]
        grams[i] = g
        cnt.update(g)
    want = set()
    for i, g in grams.items():
        dup_pos = [p for p, gr in enumerate(g) if cnt[gr] >= 2]
        runs = []
        for p in dup_pos:
            if runs and p <= runs[-1][-1] + length:
                runs[-1].append(p)
            else:
                runs.append([p])
        for r in runs:
            start, end = r[0], r[-1] + length - 1
            want.add((i, start, end, end - start + 1, len(r)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    for arith in (True, False):
        got = {
            tuple(r) for r in dup_spans(df, length=length, arith_hash=arith).collect()
        }
        assert got == want, (length, corpora, arith)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=10),
        min_size=2,
        max_size=6,
    ),
    st.lists(st.sampled_from("abcd"), min_size=1, max_size=3),
)
def test_bm25_batch_matches_integer_reference(spark, corpora, qterms):
    """bm25_retrieval_batch == an independent pure-Python integer
    reference (Counter-derived tf/df/dl/N, the same fraction-cleared
    contribution, same (score DESC, id) ranking) on random tiny
    corpora — pins the whole distributed derivation, not just the
    contribution formula. Duplicate query terms weight twice."""
    from collections import Counter

    from data_pengadaan_agent_spark.operators.textan import (
        bm25_int_coeffs,
        bm25_retrieval_batch,
    )

    A, B, C, L = bm25_int_coeffs(1.5, 0.75)
    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    n = len(corpora)
    sdl = sum(len(t) for t in corpora)
    tf = {i: Counter(toks) for i, toks in enumerate(corpora)}
    dfreq = Counter()
    for c in tf.values():
        dfreq.update(c.keys())
    scores = {}
    for i, toks in enumerate(corpora):
        s = 0
        for t in qterms:  # multiplicity preserved
            if tf[i].get(t):
                idf = (n * 1_000_000) // dfreq[t]
                f = tf[i][t]
                dl = len(toks)
                s += (idf * A * f * sdl) // (L * f * sdl + B * sdl + C * dl * n)
        if s:
            scores[i] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    want = [(7, i, s, r + 1) for r, (i, s) in enumerate(ranked)]
    qdf = spark.createDataFrame([(7, qterms)], "qid LONG, terms ARRAY<STRING>")
    ddf = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = [
        (r["qid"], r["doc_id"], int(r["bm25"]), r["rank"])
        for r in bm25_retrieval_batch(qdf, ddf, k=5)
        .orderBy("rank")
        .collect()
    ]
    assert got == want, (corpora, qterms)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-8.0, max_value=8.0,
                      allow_nan=False, allow_infinity=False),
            min_size=4, max_size=4,
        ),
        min_size=4, max_size=12,
    )
)
def test_pq_encode_matches_numpy_reference_property(spark, vec_lists):
    """PQ encode property: for ANY small vector set, the distributed
    codes equal the NumPy reference (rounded-distance argmin, first
    minimum on ties) and the ADC top-k equals brute-force ranking of
    the codes by the exact integer LUT, ties by id."""
    import numpy as np

    from data_pengadaan_agent_spark.operators import pq as PQ

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vec_lists)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = PQ.train_pq(df, dim=4, m=2, ksub=2, iters=2)
    cbn = np.array(cb)
    V = np.array([v for _, v in rows])
    want = {}
    for i, v in enumerate(V):
        codes = []
        for s in range(2):
            d = np.round(((v[s * 2:(s + 1) * 2] - cbn[s]) ** 2).sum(-1), 4)
            codes.append(int(np.argmin(d)))
        want[i] = codes
    codes_df = PQ.pq_encode(df, cb)
    got = {r["vec_id"]: list(r["codes"]) for r in codes_df.collect()}
    assert got == want

    q = [float(x) for x in V[0]]
    lut = PQ.adc_lut(cb, q)
    brute = sorted((lut[c0] + lut[2 + c1], i) for i, (c0, c1) in want.items())
    k = min(3, len(rows))
    top = PQ.pq_adc_topk(codes_df, cb, q, k=k).collect()
    assert [(r["adc_score"], r["vec_id"]) for r in top] == brute[:k]


def _lev(a: str, b: str) -> int:
    """Plain-Python Levenshtein — the independent verifier for the
    pigeonhole property test (never Spark's own function)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        cur = [i]
        for j, cb in enumerate(b, start=1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=7),
        min_size=2,
        max_size=8,
        unique=True,
    ),
    st.integers(min_value=1, max_value=2),
)
def test_fuzzy_dup_pairs_matches_bruteforce(spark, texts, d):
    """PassJoin completeness is a lemma, not a sample: on adversarial
    tiny corpora (tight alphabet forces collisions; lengths straddle
    the short-block boundary) the pigeonhole candidates + banded
    verify must equal the exact all-pairs answer, pair for pair,
    distance for distance."""
    from data_pengadaan_agent_spark.operators.fuzzy import fuzzy_dup_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a_id, r.b_id): r.dist
        for r in fuzzy_dup_pairs(df, max_dist=d).collect()
    }
    want = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            dist = _lev(ta, tb)
            if dist <= d:
                want[(ia, ib)] = dist
    assert got == want

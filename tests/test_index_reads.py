"""The warm read path of the lexindex, trgm and bloom indexes
(``sources/catalog.read_index`` and ``read_meta``).

- job pins: after one warm-up call, the eager phase of a warm
  ``bm25_index_retrieval`` starts at most one Spark job (the query
  batch collect), ``trgm_search`` none and ``bloom_new_rows`` at most
  six (its two shard checkpoints and the broadcasts they run);
- freshness: a warm-read index that takes an append answers exactly
  like a fresh build over the union — the meta row and the schema are
  kept per commit, never the file set;
- a probe whose buckets have no directory is an empty answer, equal to
  the direct scan;
- guard: the query functions read index directories only through
  ``read_index``, and ``bm25_from_index`` materializes nothing eagerly.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import lexindex as LX
from data_pengadaan_agent_spark.operators import textan as X
from data_pengadaan_agent_spark.operators import trgm as TG
from tests.conftest import SF_DIR, jobs_in

PKG = Path(__file__).resolve().parents[1] / "data_pengadaan_agent_spark"


@pytest.mark.parametrize(
    "name, most", [("bm25_index_retrieval", 1), ("trgm_search", 0), ("bloom_new_rows", 6)]
)
def test_warm_gated_entry_eager_jobs(spark, name, most):
    import __spark_entry__ as E

    fn = E.queries()[name]
    fn(spark, SF_DIR).collect()  # cold build or warm-up
    df, jobs = jobs_in(spark, lambda: fn(spark, SF_DIR))
    assert jobs <= most, f"{name}: {jobs} eager jobs"
    assert df.count() > 0


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


BASE = [
    (1, "apple banana cherry apple durian"),
    (2, "banana cherry cherry fig grape"),
    (3, "apple apple apple honeydew kiwi lemon"),
    (4, "mango nectarine orange papaya quince"),
]
SHARD = [
    (5, "banana fig fig grape honeydew apple"),
    (6, "cherry durian elderberry fig grape apple"),
    (7, "quince quince mango kiwi"),
]


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def test_warm_reads_see_an_append(spark, tmp_path):
    base, shard = _docs(spark, BASE), _docs(spark, SHARD)
    union = _docs(spark, BASE + SHARD)
    qs = spark.createDataFrame(
        [(100, ["apple", "fig"]), (200, ["quince", "kiwi"]), (300, ["elderberry"])],
        "qid LONG, terms ARRAY<STRING>",
    )
    pats = ["apple", "fig gr", "quince q", "elderb"]
    lx, lx_fresh = str(tmp_path / "lx"), str(tmp_path / "lx_fresh")
    tg, tg_fresh = str(tmp_path / "tg"), str(tmp_path / "tg_fresh")
    LX.build_postings_index(base, lx, n_buckets=8)
    TG.build_trgm_index(base, tg, n_buckets=8)
    for _ in range(2):  # cold, then warm
        assert _sorted(LX.bm25_from_index(spark, lx, qs, k=3)) == _sorted(
            X.bm25_retrieval_batch(qs, base, k=3)
        )
        assert _sorted(TG.substring_search(spark, tg, base, pats)) == [
            ("apple", 1), ("apple", 3), ("fig gr", 2)
        ]

    assert LX.append_postings_index(shard, lx) == 3
    assert TG.append_trgm_index(shard, tg) == 3
    LX.build_postings_index(union, lx_fresh, n_buckets=8)
    TG.build_trgm_index(union, tg_fresh, n_buckets=8)

    # N and Σdl come off the new meta: every score equals a fresh build's
    assert LX.read_meta_stats(spark, lx) == LX.read_meta_stats(spark, lx_fresh)
    got = _sorted(LX.bm25_from_index(spark, lx, qs, k=3))
    assert got == _sorted(LX.bm25_from_index(spark, lx_fresh, qs, k=3))
    assert got == _sorted(X.bm25_retrieval_batch(qs, union, k=3))
    assert any(r[0] == 300 for r in got)  # a term only the shard holds

    hits = _sorted(TG.substring_search(spark, tg, union, pats))
    assert hits == _sorted(TG.substring_search(spark, tg_fresh, union, pats))
    direct = (
        union.crossJoin(spark.createDataFrame([(p,) for p in pats], "pattern STRING"))
        .filter(F.contains(F.lower("text"), F.lower(F.col("pattern"))))
        .select("pattern", "doc_id")
    )
    assert hits == _sorted(direct) and ("elderb", 6) in hits


def _absent(buckets_of, candidates, root):
    """The first candidate whose buckets all lack a directory."""
    have = set(os.listdir(root))
    for c in candidates:
        if not any(f"bucket={b}" in have for b in buckets_of(c)):
            return c
    raise AssertionError("no candidate falls in empty buckets only")


def test_probes_of_buckets_without_a_directory_are_empty(spark, tmp_path):
    docs = _docs(spark, BASE)
    lx, tg = str(tmp_path / "lx"), str(tmp_path / "tg")
    LX.build_postings_index(docs, lx, n_buckets=512)
    TG.build_trgm_index(docs, tg, n_buckets=512)
    cands = [f"zq{i}x" for i in range(200)]

    def term_bucket(t):
        return [spark.range(1).select(LX._bucket(F.lit(t), 512)).first()[0]]

    term = _absent(term_bucket, cands, f"{lx}/postings")
    qs = spark.createDataFrame([(1, [term])], "qid LONG, terms ARRAY<STRING>")
    got = LX.bm25_from_index(spark, lx, qs, k=3)
    assert got.collect() == [] == X.bm25_retrieval_batch(qs, docs, k=3).collect()

    def gram_buckets(p):
        return [h % 512 for h, _ in TG._pattern_grams(spark, [p])[0]]

    pat = _absent(gram_buckets, cands, f"{tg}/postings")
    assert TG.substring_search(spark, tg, docs, [pat]).collect() == []
    assert docs.filter(F.contains(F.lower("text"), F.lit(pat))).collect() == []
    assert TG.trgm_similar(spark, tg, pat, 1).collect() == []


QUERY_FNS = {
    "lexindex": ("bm25_from_index",),
    "trgm": ("substring_search", "trgm_similar"),
    "bloom": ("probe_bloom", "grouped_words", "bloom_new_rows", "bloom_fill_report"),
}


def _query_fns():
    for mod, names in QUERY_FNS.items():
        tree = ast.parse((PKG / "operators" / f"{mod}.py").read_text())
        fns = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        assert set(names) <= set(fns), (mod, set(names) - set(fns))
        for name in names:
            yield mod, name, fns[name]


def _calls(fn, attr):
    return [
        n for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
    ]


def test_query_functions_read_through_read_index():
    """``spark.read.parquet`` in a query function would bring back the
    per-call schema inference and the full bucket listing; an eager
    ``localCheckpoint`` in ``bm25_from_index`` would bring back the job
    its one collect replaced."""
    bad = [
        f"{mod}.{name}:{c.lineno}"
        for mod, name, fn in _query_fns()
        for c in _calls(fn, "parquet")
        if isinstance(c.func.value, ast.Attribute) and c.func.value.attr == "read"
    ]
    assert bad == [], bad
    bm25 = next(fn for _, name, fn in _query_fns() if name == "bm25_from_index")
    assert _calls(bm25, "localCheckpoint") == []

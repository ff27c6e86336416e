"""The index-lifecycle kernel (``sources/catalog``: ``begin_build``,
``new_rows``, ``audit_registry``, ``flagged_rows``, ``compact`` on
``swap_dirs``).

- guard: no index family carries its own copy of the build step or the
  compaction swap — no Hadoop ``delete`` outside the kernel (and three
  non-index sites), no ``fs.rename`` outside ``swap_dirs`` (and the IVF
  codebook staging of ``build_ivf_table``), no staged-directory literal
  and no file counter outside the kernel;
- rebuild: a rebuild under ``partitionOverwriteMode=dynamic`` keeps no
  partition of the previous build;
- events: each gate decision and each append, repair and compaction
  logs one INFO line on the ``data_pengadaan_agent_spark.index``
  logger.
"""

from __future__ import annotations

import ast
import logging
import os
from pathlib import Path

import pytest

from data_pengadaan_agent_spark.operators import dupindex as DI
from data_pengadaan_agent_spark.operators import lexindex as LX
from data_pengadaan_agent_spark.operators import pq as PQ
from data_pengadaan_agent_spark.operators import similarity as SIM
from data_pengadaan_agent_spark.operators import trgm as TG
from data_pengadaan_agent_spark.sources.catalog import ensure_index

REPO = Path(__file__).resolve().parents[1]
KERNEL = "data_pengadaan_agent_spark/sources/catalog.py"
RENAME_OK = {
    (KERNEL, "swap_dirs"),
    ("data_pengadaan_agent_spark/operators/similarity.py", "build_ivf_table"),
}
STAGED = ("_compact_tmp", "_compact_old", "__staged")
# Hadoop deletes outside the kernel: none is an index build or append
DELETE_OK = {
    ("data_pengadaan_agent_spark/streaming/windows.py", "foreach_batch_dq_gate_sink"),
    ("data_pengadaan_agent_spark/sources/readers.py", "write_bucketed"),
    ("data_pengadaan_agent_spark/operators/similarity.py", "build_ivf_table"),
}


def _sources():
    files = sorted((REPO / "data_pengadaan_agent_spark").rglob("*.py"))
    files += sorted((REPO / "tools").glob("*.py")) + [REPO / "__spark_entry__.py"]
    for f in files:
        yield f.relative_to(REPO).as_posix(), ast.parse(f.read_text())


def _top_level(tree):
    """(name of the enclosing top-level definition, node) pairs."""
    for top in tree.body:
        for node in ast.walk(top):
            yield getattr(top, "name", None), node


def test_no_family_forks_the_compaction_swap():
    bad = []
    for rel, tree in _sources():
        for owner, node in _top_level(tree):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and f.attr == "rename"
                and getattr(f.value, "id", None) == "fs"
                and (rel, owner) not in RENAME_OK
            ):
                bad.append(f"{rel}:{node.lineno} fs.rename in {owner}")
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and any(s in node.value for s in STAGED)
                and (rel, owner) != (KERNEL, "compact")
            ):
                bad.append(f"{rel}:{node.lineno} staged-directory literal in {owner}")
            if isinstance(node, ast.FunctionDef) and node.name == "_n_files" and rel != KERNEL:
                bad.append(f"{rel}:{node.lineno} def _n_files in {owner}")
    assert bad == [], f"lifecycle code outside the kernel: {bad}"


def test_no_family_forks_the_build_step():
    """An index build clears its marker and data directories through
    ``catalog.begin_build``; no operator deletes paths itself."""
    bad = [
        f"{rel}:{node.lineno} .delete( in {owner}"
        for rel, tree in _sources()
        if rel != KERNEL
        for owner, node in _top_level(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "delete"
        and (rel, owner) not in DELETE_OK
    ]
    assert bad == [], f"build-step deletes outside the kernel: {bad}"


def _docs(spark, n):
    return spark.createDataFrame(
        [(i, f"alpha{i} beta{i % 5} shared words here") for i in range(n)],
        "doc_id LONG, text STRING",
    )


def _vecs(spark, n):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) + 0.1 * i for j in range(8)]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


# family -> (corpus of n rows, build(frame, path, n), partitioned table
# under the index path). IVF-PQ assigns each of its kc seed vectors to
# its own list, so only a smaller kc leaves lists of the old build
# untouched.
REBUILDS = {
    "lexindex": (_docs, lambda df, p, n: LX.build_postings_index(df, p), "postings"),
    "dupindex": (_docs, lambda df, p, n: DI.build_gram_counts(df, p, length=2), "counts"),
    "trgm": (_docs, lambda df, p, n: TG.build_trgm_index(df, p), "postings"),
    "lsh": (_vecs, lambda df, p, n: SIM.build_lsh_signature_table(df, "embedding", 8, p), ""),
    "ivf": (_vecs, lambda df, p, n: SIM.build_ivf_table(df, "embedding", 8, p), ""),
    "ivfpq": (
        _vecs,
        lambda df, p, n: PQ.build_ivfpq_table(df, p, dim=8, kc=8 if n > 8 else 2, m=2, ksub=2),
        "",
    ),
}


def _table(spark, path):
    parts = sorted(d for d in os.listdir(path) if "=" in d)
    rows = sorted(map(repr, spark.read.parquet(path).collect()))
    return parts, rows


@pytest.mark.parametrize("family", sorted(REBUILDS))
def test_rebuild_under_dynamic_overwrite_keeps_no_old_partition(spark, tmp_path, family):
    """Rebuilding over a smaller corpus with the session's partition
    overwrite mode set to ``dynamic`` (a common cluster default) leaves
    the index equal to a fresh build of the smaller corpus."""
    corpus, build, table = REBUILDS[family]
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        build(corpus(spark, 40), path, 40)
        build(corpus(spark, 4), path, 4)
        build(corpus(spark, 4), fresh, 4)
    finally:
        spark.conf.set(key, prev)
    got, want = _table(spark, f"{path}/{table}"), _table(spark, f"{fresh}/{table}")
    assert got[0] == want[0], "partitions of the old build survived the rebuild"
    assert got[1] == want[1]
    if family == "lexindex":
        qs = spark.createDataFrame(
            [(1, ["alpha3"]), (2, ["alpha1", "shared"])], "qid LONG, terms ARRAY<STRING>"
        )
        assert sorted(LX.bm25_from_index(spark, path, qs).collect()) == sorted(
            LX.bm25_from_index(spark, fresh, qs).collect()
        )
    if family == "dupindex":
        shard = spark.createDataFrame(
            [(500, "alpha7 beta2 shared words here")], "doc_id LONG, text STRING"
        )
        spans = []
        for p in (path, fresh):
            DI.append_gram_counts(shard, p)
            spans.append(sorted(DI.dup_spans_incremental(spark, p, shard).collect()))
        assert spans[0] == spans[1]


def test_lifecycle_events_log_one_line_each(spark, tmp_path, caplog):
    sf, idx = str(tmp_path / "sf"), str(tmp_path / "idx")
    spark.createDataFrame([(1, "a")], "id bigint, v string").write.parquet(f"{sf}/t.parquet")
    docs = spark.createDataFrame(
        [(i, f"vendor record {i} alpha beta") for i in range(6)], "doc_id long, text string"
    )
    path = str(tmp_path / "trgm")
    TG.build_trgm_index(docs.filter("doc_id < 4"), path, n_buckets=4)
    with caplog.at_level(logging.INFO, logger="data_pengadaan_agent_spark.index"):
        ensure_index(spark, idx, sf, ("t",), 1, lambda: None)
        ensure_index(spark, idx, sf, ("t",), 1, lambda: None)
        TG.append_trgm_index(docs, path)
        TG.repair_trgm_index(docs, path)
        TG.compact_trgm_index(spark, path)
    got = [
        r.getMessage() for r in caplog.records if r.name == "data_pengadaan_agent_spark.index"
    ]
    assert [m.split(":")[0] for m in got] == [
        "index rebuilt",
        "index fresh",
        "append_trgm_index",
        "repair_trgm_index",
        "compact_trgm_index",
    ], got
    assert got[0].startswith(f"index rebuilt: {idx} in ") and got[1] == f"index fresh: {idx}"
    assert got[2].startswith("append_trgm_index: 2 rows in ") and got[2].endswith("s")
    assert got[3].startswith("repair_trgm_index: 0 rows in ")
    assert " files removed in " in got[4]

"""The index-lifecycle kernel (``sources/catalog``: ``new_rows``,
``audit_registry``, ``flagged_rows``, ``compact`` on ``swap_dirs``).

- guard: no index family carries its own copy of the compaction swap —
  no ``fs.rename`` outside ``swap_dirs`` (and the IVF codebook staging
  of ``build_ivf_table``), no staged-directory literal and no file
  counter outside the kernel;
- events: each gate decision and each append, repair and compaction
  logs one INFO line on the ``data_pengadaan_agent_spark.index``
  logger.
"""

from __future__ import annotations

import ast
import logging
from pathlib import Path

from data_pengadaan_agent_spark.operators import sq as SQ
from data_pengadaan_agent_spark.sources.catalog import ensure_index

REPO = Path(__file__).resolve().parents[1]
KERNEL = "data_pengadaan_agent_spark/sources/catalog.py"
RENAME_OK = {
    (KERNEL, "swap_dirs"),
    ("data_pengadaan_agent_spark/operators/similarity.py", "build_ivf_table"),
}
STAGED = ("_compact_tmp", "_compact_old", "__staged")


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


def test_lifecycle_events_log_one_line_each(spark, tmp_path, caplog):
    sf, idx = str(tmp_path / "sf"), str(tmp_path / "idx")
    spark.createDataFrame([(1, "a")], "id bigint, v string").write.parquet(f"{sf}/t.parquet")
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, -float(i), 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "sq")
    SQ.build_sq_table(vecs.filter("vec_id < 4"), path, dim=4)
    with caplog.at_level(logging.INFO, logger="data_pengadaan_agent_spark.index"):
        ensure_index(spark, idx, sf, ("t",), 1, lambda: None)
        ensure_index(spark, idx, sf, ("t",), 1, lambda: None)
        SQ.append_sq_table(vecs, path)
        SQ.repair_sq_table(vecs, path)
        SQ.compact_sq_table(spark, path)
    got = [
        r.getMessage() for r in caplog.records if r.name == "data_pengadaan_agent_spark.index"
    ]
    assert [m.split(":")[0] for m in got] == [
        "index rebuilt",
        "index fresh",
        "append_sq_table",
        "repair_sq_table",
        "compact_sq_table",
    ], got
    assert got[0].startswith(f"index rebuilt: {idx} in ") and got[1] == f"index fresh: {idx}"
    assert got[2].startswith("append_sq_table: 2 rows in ") and got[2].endswith("s")
    assert got[3].startswith("repair_sq_table: 0 rows in ")
    assert " files removed in " in got[4]

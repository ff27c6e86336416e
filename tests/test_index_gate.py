"""The one index freshness gate (``sources/catalog.ensure_index``) and
the entries it guards.

- kernel: a warm gate starts no Spark job; a touched source, a new
  spec or a crashed build each force exactly one rebuild;
- content change: on two fixture copies that share a basename (so the
  entries share their ``spark-warehouse`` index directories) and whose
  second copy keeps every row count but changes the content, each
  gated entry answers the second copy exactly like its DuckDB twin;
- guard: every ``_warehouse_path`` in the entry file feeds an
  ``ensure_index`` call, and every managed-table write
  (``write_bucketed``, ``saveAsTable``) runs inside a gate's build or
  under its result, so no entry hand-rolls its own gate.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import shutil
import uuid
from pathlib import Path

import pytest

from data_pengadaan_agent_spark.sources.catalog import ensure_index
from tests.conftest import SF_DIR, jobs_in

REPO = Path(__file__).resolve().parents[1]


def _write_table(spark, sf: str, rows) -> None:
    spark.createDataFrame(rows, "id bigint, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{sf}/t.parquet")


def _gate_files(path: str) -> list[str]:
    gate = os.path.join(path, "_gate")
    if not os.path.isdir(gate):
        return []
    return sorted(f for f in os.listdir(gate) if not f.startswith("."))  # no .crc


def test_warm_gate_starts_no_spark_job(spark, tmp_path):
    sf, idx = str(tmp_path / "sf"), str(tmp_path / "idx")
    _write_table(spark, sf, [(1, "a"), (2, "b")])
    builds = []

    def build():
        builds.append(spark.read.parquet(f"{sf}/t.parquet").count())

    built, cold_jobs = jobs_in(spark, lambda: ensure_index(spark, idx, sf, ("t",), (1,), build))
    assert built and builds == [2] and cold_jobs > 0  # the counter sees jobs
    built, warm_jobs = jobs_in(spark, lambda: ensure_index(spark, idx, sf, ("t",), (1,), build))
    assert not built and warm_jobs == 0 and builds == [2]
    assert len(_gate_files(idx)) == 1


def test_touch_spec_and_crash_each_rebuild_once(spark, tmp_path):
    sf, idx = str(tmp_path / "sf"), str(tmp_path / "idx")
    _write_table(spark, sf, [(1, "a")])
    builds = []

    def gate(spec=(1,), build=lambda: builds.append(1)):
        return ensure_index(spark, idx, sf, ("t",), spec, build)

    assert gate() and not gate()
    # a touched source file (same bytes, new mtime) rebuilds exactly once
    for f in glob.glob(f"{sf}/t.parquet/*"):
        st = os.stat(f)
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
    assert gate() and not gate()
    assert len(builds) == 2
    # a different spec rebuilds; the old marker is gone
    assert gate(spec=(2,)) and not gate(spec=(2,))
    assert len(builds) == 3 and len(_gate_files(idx)) == 1

    # a build that raises leaves no marker, so the next call rebuilds
    def crash():
        raise RuntimeError("build died")

    _write_table(spark, sf, [(1, "a"), (2, "b")])
    with pytest.raises(RuntimeError, match="build died"):
        gate(spec=(2,), build=crash)
    assert _gate_files(idx) == []
    assert gate(spec=(2,)) and not gate(spec=(2,))
    assert len(builds) == 4


# ---- content change under unchanged row counts ---------------------------

GATED = (
    "ivfpq_adc_batch",
    "bm25_index_retrieval",
    "dup_spans_incremental",
    "trgm_search",
    "hist_quantiles",
    "bloom_new_rows",
    "bloom_fill_report",
    "cms_freq",
    "kmv_distinct",
    "kmv_overlap",
    "zorder_zonemap_scan",
    "bucketed_join_revenue",
)
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _copy(src: str, dst: str) -> None:
    """File contents only: the fixtures are read-only, their copies not."""
    os.makedirs(dst)
    for f in os.listdir(src):
        shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))


def _changed_copy(src: str, dst: str) -> None:
    """Copy the fixtures, then rewrite documents, lineitem, events,
    embeddings and orders with the same row count and different
    content."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    _copy(src, dst)

    def rewrite(name, fn):
        p = os.path.join(dst, f"{name}.parquet")
        t = pq.read_table(p)
        out = fn(t)
        assert out.num_rows == t.num_rows
        pq.write_table(out, p)

    def rotate(t, col, sort_col):
        t = t.sort_by(sort_col)
        c = t.column(col)
        moved = pa.concat_arrays([c.slice(1).combine_chunks(), c.slice(0, 1).combine_chunks()])
        return t.set_column(t.schema.get_field_index(col), col, moved)

    def docs(t):
        t = rotate(t, "text", "doc_id")
        text = pc.binary_join_element_wise(t.column("text"), pa.scalar("spark model data"), " ")
        return t.set_column(t.schema.get_field_index("text"), "text", text)

    def lineitem(t):
        pk = pc.add(pc.divide(t.column("l_partkey"), 3), 1).cast(t.schema.field("l_partkey").type)
        return t.set_column(t.schema.get_field_index("l_partkey"), "l_partkey", pk)

    def events(t):
        v = pc.multiply(t.column("value"), 0.5)
        return t.set_column(t.schema.get_field_index("value"), "value", v)

    rewrite("documents", docs)
    rewrite("lineitem", lineitem)
    rewrite("events", events)
    rewrite("embeddings", lambda t: rotate(t, "embedding", "vec_id"))

    def orders(t):
        price = pc.multiply(t.column("o_totalprice"), 2.0)
        return t.set_column(t.schema.get_field_index("o_totalprice"), "o_totalprice", price)

    rewrite("orders", orders)


def _warehouse_leftovers(spark, tag: str) -> list[str]:
    roots = {str(REPO / "spark-warehouse")}
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    roots.add(os.path.abspath(wh))
    # the tag is unique to this run, so any name holding it is ours
    return [p for r in roots for p in glob.glob(os.path.join(r, f"*_{tag}*"))]


def _clean_warehouse(spark, tag: str) -> None:
    for table in ("gram_counts_bucketed", "orders_bkt", "customer_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {table}_{tag}")
    for p in _warehouse_leftovers(spark, tag):
        shutil.rmtree(p, ignore_errors=True)


def test_gated_entries_follow_a_content_change(spark, tmp_path):
    import duckdb

    import __spark_entry__ as E

    spec = importlib.util.spec_from_file_location("check_oracle", REPO / "tools" / "check_oracle.py")
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    normalize = check_oracle.table_to_normalized

    tag = f"gatecheck{uuid.uuid4().hex[:8]}"
    sf_a, sf_b = str(tmp_path / "a" / tag), str(tmp_path / "b" / tag)
    _copy(SF_DIR, sf_a)
    _changed_copy(SF_DIR, sf_b)
    queries, oracle = E.queries(), E.oracle_sql()
    try:
        wrong = []
        for sf in (sf_a, sf_b):
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
            for name in GATED:
                got = normalize(queries[name](spark, sf).toArrow())
                want = normalize(con.execute(oracle[name]).arrow())
                if got != want:
                    wrong.append(f"{os.path.basename(os.path.dirname(sf))}:{name}")
            con.close()
        assert wrong == [], f"entries differ from their DuckDB twin: {wrong}"
    finally:
        _clean_warehouse(spark, tag)
    assert _warehouse_leftovers(spark, tag) == []


# ---- no hand-rolled gate in the entry file -------------------------------


def test_every_warehouse_path_feeds_ensure_index():
    """Each ``_warehouse_path(...)`` call in ``__spark_entry__.py`` is the
    path argument of an ``ensure_index`` call in the same function,
    directly or through the name it is assigned to. The streaming
    ingest entry's per-call stream index and ack log are the one
    exception: they are rebuilt on every call, not gated.

    Each managed-table write (``write_bucketed``, ``.saveAsTable``)
    is gated too: it sits in the function passed as an
    ``ensure_index`` build, or under an ``if`` that tests the result of
    an ``ensure_index`` call (a session-scoped catalog may have to
    re-register a table whose files are fresh)."""
    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    exempt = {"_q_ann_ingest_stream_codes"}
    bad = []

    def is_call(node, name):
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return getattr(f, "id", None) == name or getattr(f, "attr", None) == name

    def arg(call, pos, kw):
        if len(call.args) > pos:
            return call.args[pos]
        return next((k.value for k in call.keywords if k.arg == kw), None)

    def inside(fn, target, found=()):
        """The nodes enclosing ``target`` in ``fn``, outermost first."""
        for child in ast.iter_child_nodes(fn):
            if child is target:
                return list(found)
            hit = inside(child, target, (*found, child))
            if hit is not None:
                return hit
        return None

    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef) or fn.name in exempt:
            continue
        gates = [node for node in ast.walk(fn) if is_call(node, "ensure_index")]
        gated_args = [arg(g, 1, "path") for g in gates]
        gated_names = {a.id for a in gated_args if isinstance(a, ast.Name)}
        gated_calls = {id(a) for a in gated_args}
        builds = {a.id for a in (arg(g, 5, "build") for g in gates) if isinstance(a, ast.Name)}
        results = set()
        assigned = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
                if is_call(node.value, "_warehouse_path"):
                    for n in names:
                        assigned[id(node.value)] = n
                if is_call(node.value, "ensure_index"):
                    results.update(names)
        for node in ast.walk(fn):
            if is_call(node, "_warehouse_path"):
                ok = id(node) in gated_calls or assigned.get(id(node)) in gated_names
                if not ok:
                    bad.append(f"{fn.name}:{node.lineno}")
            if is_call(node, "write_bucketed") or is_call(node, "saveAsTable"):
                ok = any(
                    (isinstance(a, ast.FunctionDef) and a.name in builds)
                    or (
                        isinstance(a, ast.If)
                        and any(isinstance(n, ast.Name) and n.id in results for n in ast.walk(a.test))
                    )
                    for a in inside(fn, node)
                )
                if not ok:
                    bad.append(f"{fn.name}:{node.lineno} (managed table)")
    assert bad == [], f"warehouse writes not gated by ensure_index: {bad}"

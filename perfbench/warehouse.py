"""``warehouse_mix``: repeated passes over a fixed list of registry
entries. Each entry is called as ``queries()[name](spark, sf)`` and its
result fully collected (to Arrow); an op is one entry, a cycle one pass.

The sf directory is generated from the seed under the benchmark's own
basename (``cleanup.TAG``), so the index-gated entries build their
``spark-warehouse/<index>_<TAG>`` directories cold during set-up and hit
them warm in every timed pass. Every result of the window is compared with
its ``oracle_sql()`` twin on DuckDB after the window, with the
comparator of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import glob
import os

import numpy as np

import gen
from cleanup import TAG, WORK_DIR
from stats import median

SF = 0.01
STATELESS = ("keyword_cnf_filter", "monthly_rollup", "star_join_revenue")
GATED = ("bm25_index_retrieval", "bloom_new_rows", "trgm_search")
ENTRIES = STATELESS + GATED
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents")


def load_comparator():
    """``table_to_normalized`` from tools/check_oracle.py, loaded by path
    (``tools`` is not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join("tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_to_normalized


class WarehouseMix:
    op_names = ENTRIES
    warmup_cycles = 1
    trace_block = 1

    def __init__(self, seed: int) -> None:
        self.sf = os.path.join(WORK_DIR, "warehouse", TAG)
        gen.write_sf(np.random.default_rng(seed), self.sf, SF)
        self.results: list[tuple[str, object]] = []

    def wrap(self, tracer) -> None:
        import __spark_entry__ as E
        from data_pengadaan_agent_spark.operators import bloom, lexindex, trgm
        from data_pengadaan_agent_spark.sources import catalog

        tracer.wrap(catalog, "load_table", "sources.load")
        tracer.wrap(E, "load_table", "sources.load")
        for mod, names in (
            (lexindex, ("build_postings_index", "bm25_from_index")),
            (bloom, ("build_bloom_index", "bloom_new_rows")),
            (trgm, ("build_trgm_index", "substring_search")),
        ):
            for name in names:
                tracer.wrap(mod, name, f"{mod.__name__.rsplit('.', 1)[1]}.{name}")

    def index_dirs(self) -> list[str]:
        return glob.glob(os.path.join("spark-warehouse", f"*_{TAG}"))

    def setup(self, spark, tracer) -> None:
        import __spark_entry__ as E
        from data_pengadaan_agent_spark.sources import catalog

        self.E = E
        self.fns = {n: E.queries()[n] for n in ENTRIES}
        self.spark = spark
        for t in TABLES:
            catalog.load_table(spark, self.sf, t)
        # first call of each gated entry builds its index cold
        for name in GATED:
            with tracer.span("registry.build.gated"):
                self.fns[name](spark, self.sf)

    def cycle(self, i: int, rec) -> None:
        spark = self.spark
        for name in ENTRIES:
            kind = "gated" if name in GATED else "stateless"
            with rec.op(name):
                with rec.tracer.span(f"registry.build.{kind}"):
                    df = self.fns[name](spark, self.sf)
                with rec.tracer.span("exec.collect"):
                    tbl = df.toArrow()
            self.results.append((name, tbl))

    def check(self) -> tuple[int, list[str]]:
        """Every entry's result against its DuckDB twin: column names,
        canonical types, row count and order-insensitive values."""
        import duckdb

        normalize = load_comparator()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        oracle = self.E.oracle_sql()
        want = {n: normalize(con.execute(oracle[n]).arrow()) for n in ENTRIES}
        errors = []
        for k, (name, tbl) in enumerate(self.results):
            got = normalize(tbl)
            if got != want[name]:
                errors.append(f"op {k} {name}: {len(got[0])} rows vs oracle {len(want[name][0])}")
        return len(self.results), errors

    def layer_metrics(self, spark) -> dict[str, float]:
        files = [f for d in self.index_dirs() for f in glob.glob(os.path.join(d, "**"), recursive=True)
                 if os.path.isfile(f)]
        return {"index.files": float(len(files)), "index.bytes": float(sum(os.path.getsize(f) for f in files))}

    def span_metrics(self, q) -> dict[str, float]:
        builds = {**q.per_cycle("registry.build.gated")}
        for c, spans in q.per_cycle("registry.build.stateless").items():
            builds.setdefault(c, []).extend(spans)
        return {
            "registry.build_s.gated": q.per_cycle_s("registry.build.gated"),
            "registry.build_s.stateless": q.per_cycle_s("registry.build.stateless"),
            "registry.build_jobs": median([float(sum(len(s.subtree_jobs()) for s in v)) for v in builds.values()]),
            "exec.collect_s": q.per_cycle_s("exec.collect"),
            "exec.collect_jobs": q.per_cycle_jobs("exec.collect"),
            "lexindex.build_s": q.med_s("lexindex.build_postings_index", setup=True),
            "bloom.build_s": q.med_s("bloom.build_bloom_index", setup=True),
            "trgm.build_s": q.med_s("trgm.build_trgm_index", setup=True),
            "lexindex.bm25_s": q.med_s("lexindex.bm25_from_index"),
            "bloom.new_rows_s": q.med_s("bloom.bloom_new_rows"),
            "trgm.search_s": q.med_s("trgm.substring_search"),
        }

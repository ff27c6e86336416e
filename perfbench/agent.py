"""``agent_session``: the reference's question loop through the
``Engine`` facade, one closed-loop client.

A turn is ``retrieve_keywords`` -> ``materialize`` (a CNF ``LIKE`` group
over ``filtered_keywords``, every fifth turn with a ``satuan_kerja``
filter and another fifth with a date filter) -> ``preview`` -> one chart
over ``intermediary_table``, charts in rotation. The client builds its
SQL from the keywords the engine returned, as an agent would. An op is
one of these four calls, a cycle one turn.

The questions are drawn from the seed before the clock starts, using the
benchmark's own copy of the hash-trigram embedding, so every filter is
known to select rows; the same copy and DuckDB are the oracles the
outputs are checked against after the window.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pyarrow as pa

import gen
from cleanup import WORK_DIR

TABLE_ROWS = 50_000
VOCAB = 1500
TOP_K = 10
MIN_ROWS = 20
PLANS = 64  # more turns than a run makes; drawn before the clock starts
# chart kind -> (Engine method, stage-2 SQL, column arguments)
CHARTS = {
    "bar": (
        "bar_chart",
        "SELECT satuan_kerja, SUM(total_pagu) AS total_pagu FROM intermediary_table GROUP BY satuan_kerja",
        ("satuan_kerja", "total_pagu"),
    ),
    "line": (
        "line_chart",
        "SELECT tanggal_umumkan_paket, kode_rup, total_pagu FROM intermediary_table",
        ("tanggal_umumkan_paket", "kode_rup", "total_pagu"),
    ),
    "pie": (
        "pie_chart",
        "SELECT satuan_kerja, COUNT(*) AS jumlah FROM intermediary_table GROUP BY satuan_kerja",
        ("satuan_kerja", "jumlah"),
    ),
    "hist": ("histogram", "SELECT total_pagu FROM intermediary_table", ("total_pagu",)),
}
KINDS = tuple(CHARTS)
PREVIEW_SQL = "SELECT COUNT(*) AS n, SUM(total_pagu) AS total FROM intermediary_table"


def embed(text: str, dim: int = 64) -> np.ndarray:
    """Hash-trigram embedding, written from the engine's documented spec
    (functions/vectors.py), kept here as an independent oracle."""
    s = text.lower()
    padded = s + "##"
    vec = np.zeros(dim)
    for i in range(max(len(s), 1)):
        o = [ord(ch) for ch in padded[i : i + 3]] + [0, 0, 0]
        h = o[0] * 961 + o[1] * 31 + o[2]
        vec[h % dim] += 1 if (h // dim) % 2 == 0 else -1
    return vec


class Plan:
    """One turn: the question, how many returned keywords the OR group
    takes, the extra filter, the chart, and the expected top-k."""

    def __init__(self, question: str, width: int, extra: str, chart: str, expected: list[str]):
        self.question, self.width, self.extra, self.chart = question, width, extra, chart
        self.expected = expected

    def sql(self, keywords: list[str]) -> str:
        group = " OR ".join(f"filtered_keywords LIKE '%{w}%'" for w in keywords[: self.width])
        return (
            "SELECT kode_rup, satuan_kerja, total_pagu, tanggal_umumkan_paket "
            f"FROM data_pengadaan WHERE ({group}){self.extra}"
        )


class AgentSession:
    op_names = ("retrieve", "materialize", "preview", "chart")
    warmup_cycles = 12
    trace_block = len(KINDS)

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.dir = os.path.join(WORK_DIR, "agent")
        os.makedirs(self.dir, exist_ok=True)
        self.vocab = gen.keyword_vocab(self.rng, VOCAB)
        gen.write_parquet(os.path.join(self.dir, "pengadaan.parquet"), gen.procurement(self.rng, TABLE_ROWS, self.vocab))
        gen.write_parquet(os.path.join(self.dir, "keyword_vocab.parquet"), pa.table({"keyword": self.vocab}))
        self.duck = duckdb.connect()
        self.duck.execute(
            f"CREATE TABLE data_pengadaan AS SELECT * FROM read_parquet('{self.dir}/pengadaan.parquet')"
        )
        self.emb = np.stack([embed(w) for w in self.vocab])
        self.norms = np.sqrt((self.emb * self.emb).sum(axis=1))
        self.norms[self.norms == 0] = 1.0
        self.plans: list[Plan] = []
        while len(self.plans) < PLANS:
            self.plans.append(self.draw_plan())
        self.results: list[tuple[Plan, dict]] = []
        self.engine = None

    # -- inputs ------------------------------------------------------
    def top_k(self, text: str) -> list[str] | None:
        """The vocabulary's top-k by cosine, ties by keyword; None when a
        near-tie at the cut makes the answer ambiguous."""
        q = embed(text)
        sims = (self.emb @ q) / (self.norms * (math.sqrt(float(q @ q)) or 1.0))
        order = sorted(range(len(self.vocab)), key=lambda i: (-sims[i], self.vocab[i]))
        if sims[order[TOP_K - 1]] - sims[order[TOP_K]] < 1e-9:
            return None
        return [self.vocab[i] for i in order[:TOP_K]]

    def draw_plan(self) -> Plan:
        """Draw questions until one's filter selects at least MIN_ROWS
        rows. The turn shape (chart, extra filter) cycles with the turn
        number, so every run times the same mix; the seed draws the words."""
        rng, i = self.rng, len(self.plans)
        while True:
            question = " ".join(self.vocab[j] for j in rng.integers(0, len(self.vocab), 2))
            top = self.top_k(question)
            if top is None:
                continue
            if i % 5 == 1:
                extra = f" AND satuan_kerja = '{gen.SATKER[int(rng.integers(0, len(gen.SATKER)))]}'"
            elif i % 5 == 3:
                extra = f" AND tanggal_umumkan_paket >= TIMESTAMP '2024-0{int(rng.integers(2, 7))}-01 00:00:00'"
            else:
                extra = ""
            plan = Plan(question, int(rng.integers(2, 5)), extra, KINDS[i % len(KINDS)], top)
            if self.duck.execute(f"SELECT count(*) FROM ({plan.sql(top)})").fetchone()[0] >= MIN_ROWS:
                return plan

    # -- engine ------------------------------------------------------
    def wrap(self, tracer) -> None:
        from data_pengadaan_agent_spark import engine
        from data_pengadaan_agent_spark.operators import materialize
        from data_pengadaan_agent_spark.plans import sql_gate
        from data_pengadaan_agent_spark.sources import catalog

        tracer.wrap(catalog, "load_table", "sources.load")
        tracer.wrap(engine.Engine, "retrieve_keywords", "similarity.retrieve")
        tracer.wrap(sql_gate, "safe_sql", "sql_gate.safe_sql")
        tracer.wrap(sql_gate, "preview", "sql_gate.preview")
        tracer.wrap(materialize, "materialize", "materialize")
        for kind, (method, _, _) in CHARTS.items():
            tracer.wrap(engine.Engine, method, f"charts.{kind}")

    def index_dirs(self) -> list[str]:
        return []

    def setup(self, spark, tracer) -> None:
        from data_pengadaan_agent_spark.engine import Engine
        from data_pengadaan_agent_spark.sources import catalog

        base = catalog.load_table(spark, self.dir, "pengadaan")
        vocab = catalog.load_table(spark, self.dir, "keyword_vocab")
        self.engine = Engine(spark, base, vocab_df=vocab)

    def cycle(self, i: int, rec) -> None:
        plan = self.plans[i % PLANS]
        eng = self.engine
        with rec.op("retrieve"):
            keywords = [r["keyword"] for r in eng.retrieve_keywords(plan.question, top_k=TOP_K)]
        with rec.op("materialize"):
            eng.materialize(plan.sql(keywords))
        with rec.op("preview"):
            pv = eng.preview(PREVIEW_SQL)["first_rows"][0]
        method, sql, cols = CHARTS[plan.chart]
        with rec.op("chart"):
            data, ins = getattr(eng, method)(sql, *cols)
        self.results.append((plan, {"keywords": keywords, "preview": pv, "data": data, "insights": ins}))

    # -- correctness -------------------------------------------------
    def check(self) -> tuple[int, list[str]]:
        """DuckDB over the same parquet: row count and sum(total_pagu) of
        every filter, and each chart's data and insights. Returns the
        number of turns checked and one message per failed turn."""
        errors = []
        for n, (plan, out) in enumerate(self.results):
            problems = self.check_turn(plan, out)
            if problems:
                errors.append(f"turn {n}: {'; '.join(problems)}")
        return len(self.results), errors

    def check_turn(self, plan: Plan, out: dict) -> list[str]:
        if out["keywords"] != plan.expected:
            return [f"keywords {out['keywords']} != {plan.expected}"]
        problems = []
        q = self.duck.execute
        sql = plan.sql(plan.expected)
        n, total = q(f"SELECT count(*), sum(total_pagu) FROM ({sql})").fetchone()
        if (out["preview"]["n"], out["preview"]["total"]) != (n, total):
            problems.append(f"preview {out['preview']} != n={n} total={total}")
        q(f"CREATE OR REPLACE TEMP VIEW intermediary_table AS {sql}")
        ins, data = out["insights"], out["data"]
        if plan.chart == "bar":
            rows = q(CHARTS["bar"][1]).fetchall()
            vals = [v for _, v in rows]
            want = {"n": len(rows), "max_v": max(vals), "min_v": min(vals), "sum_v": sum(vals)}
            got = {k: ins[k] for k in want}
            if got != want or sorted((r["satuan_kerja"], r["total_pagu"]) for r in data) != sorted(rows):
                problems.append(f"bar {got} != {want}")
        elif plan.chart == "line":
            rows = q(
                "SELECT strftime(tanggal_umumkan_paket, '%Y-%m') AS bulan, count(kode_rup), "
                "sum(CAST(total_pagu AS DECIMAL(28,2))) FROM intermediary_table GROUP BY 1 ORDER BY 1"
            ).fetchall()
            got = [(r["bulan"], r["jumlah_paket"], r["total_pagu"]) for r in data]
            if got != rows or ins["total_count"] != n:
                problems.append(f"line series differs ({len(got)} vs {len(rows)} months)")
        elif plan.chart == "pie":
            rows = sorted(q(CHARTS["pie"][1]).fetchall())
            got = sorted((r["satuan_kerja"], r["jumlah"]) for r in data)
            if got != rows or ins["total"] != n:
                problems.append(f"pie {got} != {rows}")
            if any(abs(r["share"] - r["jumlah"] / n) > 1e-12 for r in data):
                problems.append("pie shares")
        else:
            lo, hi = q("SELECT min(total_pagu), max(total_pagu) FROM intermediary_table").fetchone()
            want = {"n": n, "min_v": lo, "max_v": hi}
            got = {k: ins[k] for k in want}
            if got != want or sum(r["cnt"] for r in data) != n:
                problems.append(f"hist {got} != {want}")
        return problems

    def layer_metrics(self, spark) -> dict[str, float]:
        from harness import cached_mb

        return {"materialize.cached_mb_end": cached_mb(spark)}

    def span_metrics(self, q) -> dict[str, float]:
        return {}

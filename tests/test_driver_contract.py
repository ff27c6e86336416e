"""Driver-contract guard: every queries() entry executes at sf0.001
and has an oracle twin; entry() smoke-checks. Catches a broken entry
before the driver's gate does."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from tests.conftest import SF_DIR


def test_entry_returns_rows(spark):
    assert len(E.entry(spark).collect()) > 0


def test_registry_floor():
    """Regression floor: the registry only grows and stays structurally
    in sync with its oracles (same assert the local gate runs)."""
    import sys

    sys.path.insert(0, "tools")
    from tools.check_oracle import check_registry

    check_registry(E)


def test_every_entry_function_is_registered():
    """One registry: every top-level ``_q_*`` function of the entry
    file is served by ``queries()``, which holds exactly the 150
    benched, oracle-checked entries — no side pool of unregistered
    entries can grow back next to it."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(E))
    defined = {
        n.name
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("_q_")
    }
    qs = E.queries()
    assert len(qs) == 150
    served = {fn.__name__ for fn in qs.values()}
    assert sorted(defined - served) == []


def test_rotation_manifest_current():
    """ADVICE r4 (medium): the rotation invariant must be data + an
    assert, not a code comment. (a) ROTATION.json matches what
    tools/update_rotation.py would regenerate from the CORRECTNESS
    files on disk; (b) queries() is sorted stalest-first by it; (c)
    the driver's ~50-entry gate window covers every entry whose hard
    signal would otherwise age past two rounds this round, plus every
    never-checked entry."""
    import glob
    import json
    import os

    import pytest

    from tools.update_rotation import REPO, ROTATION_PATH, compute_last_green

    fresh, sources = compute_last_green()
    assert os.path.exists(ROTATION_PATH), "run tools/update_rotation.py"
    with open(ROTATION_PATH) as f:
        doc = json.load(f)
    on_disk = doc["last_green"]
    if on_disk != fresh:
        # One legitimate stale state (the round-boundary tax, VERDICT
        # r6 #7): the driver wrote a NEW CORRECTNESS_r*.json after the
        # builder's last manifest regeneration. Detectable because the
        # manifest is self-consistent with the sources it claims but a
        # newer source file now exists on disk. Keep the reminder as a
        # loud xfail; any OTHER divergence is genuine staleness and
        # still fails hard.
        claimed = set(doc.get("sources", []))
        present = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        }
        new_files = sorted(present - claimed)
        if new_files and not (claimed - present):
            pytest.xfail(
                f"new driver files {new_files} landed after the last "
                "manifest regeneration — round-boundary state; run "
                "tools/update_rotation.py as the round's first action"
            )
        raise AssertionError(
            "ROTATION.json is stale vs CORRECTNESS_r*.json — "
            "run tools/update_rotation.py"
        )

    names = list(E.queries())
    key = [on_disk.get(n, 0) for n in names]
    assert key == sorted(key), "queries() not sorted stalest-first by ROTATION.json"

    current_round = max(on_disk.values(), default=0) + 1
    window = set(names[:50])
    must_check = {
        n for n in names if on_disk.get(n, 0) <= current_round - 3
    } | {n for n in names if n not in on_disk}
    overflow = sorted(must_check - window)
    assert not overflow, (
        f"{len(must_check)} entries need a fresh driver signal this round "
        f"but only 50 fit the gate window; pushed out: {overflow}"
    )

    # Rotation capacity: one driver check buys 3 rounds of freshness
    # (green at N is acceptably fresh through N+2), so keeping every
    # entry ≤2 rounds stale needs len(registry)/3 ≤ 50 checks/round.
    # Past 150 entries the invariant becomes arithmetically impossible
    # — retire variants (tier 3 in the queries() docstring) before
    # registering more.
    assert len(names) <= 150, (
        f"registry has {len(names)} entries; the 50-entry gate window "
        "can no longer keep everything ≤2 rounds stale past 150"
    )


def test_round7_candidate_dsir_matches_oracle(spark):
    """dsir_importance (arith-hash twin), REGISTERED in round 7 (was
    a round-6 candidate); this direct value-check with the driver's
    own comparator stays as the local regression pin."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from tools.check_oracle import table_to_normalized

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    stbl = E._q_dsir_importance(spark, SF_DIR).toArrow()
    dtbl = con.execute(E._dsir_sql()).arrow()
    sn, scn, sct = table_to_normalized(stbl)
    dn, dcn, dct = table_to_normalized(dtbl)
    assert (scn, sct) == (dcn, dct)
    assert len(sn) == len(dn) > 0
    diff = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert diff == [], diff[:3]


def test_round7_candidate_dedup_near_matches_oracle(spark):
    """Batch near-dup dedup (arith signature) vs its DuckDB twin —
    REGISTERED in round 7; kept as the local regression pin with the
    planted-replay semantic assertions."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from tools.check_oracle import table_to_normalized

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    stbl = E._q_dedup_near_batch(spark, SF_DIR).toArrow()
    dtbl = con.execute(E._dedup_near_sql()).arrow()
    sn, scn, sct = table_to_normalized(stbl)
    dn, dcn, dct = table_to_normalized(dtbl)
    assert (scn, sct) == (dcn, dct)
    assert len(sn) == len(dn) > 0
    diff = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert diff == [], diff[:3]
    # the planted +1M replays must be flagged non-original (their
    # originals claimed the shared bands 60 s earlier)
    flags = {
        r["doc_id"]: r["is_original"]
        for r in E._q_dedup_near_batch(spark, SF_DIR).collect()
    }
    planted = [d for d in flags if d >= 1000000]
    assert planted and not any(flags[d] for d in planted)


def test_round8_candidate_dedup_passages_matches_oracle(spark):
    """dedup_passages (document-rebuilding passage dedup) vs its
    DuckDB twin — REGISTERED in round 7 (the window fit all three
    candidates at must-check 49/50); kept as the local regression pin
    with the replay/chimera semantic assertions."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from tools.check_oracle import table_to_normalized

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    stbl = E._q_dedup_passages(spark, SF_DIR).toArrow()
    dtbl = con.execute(E._dedup_passages_sql()).arrow()
    sn, scn, sct = table_to_normalized(stbl)
    dn, dcn, dct = table_to_normalized(dtbl)
    assert (scn, sct) == (dcn, dct)
    assert sn == dn and len(sn) > 0
    rows = {r["doc_id"]: r for r in E._q_dedup_passages(spark, SF_DIR).collect()}
    replays = [d for d in rows if 1000000 <= d < 2000000]
    chimeras = [d for d in rows if d >= 2000000]
    # full replays collapse to empty rows; a chimera loses exactly its
    # copied head passage WHEN its source had >= 16 tokens (a shorter
    # source's head blends into the chimera's tail and drops nothing)
    assert replays and all(
        rows[d]["text"] == "" and rows[d]["n_kept"] == 0 for d in replays
    )
    assert chimeras and all(
        rows[d]["n_kept"] in (rows[d]["n_passages"], rows[d]["n_passages"] - 1)
        for d in chimeras
    )
    assert any(
        rows[d]["n_kept"] == rows[d]["n_passages"] - 1 for d in chimeras
    )


@pytest.mark.slow
def test_every_query_executes_and_has_oracle(spark):
    """Every registered entry executes at sf0.001 and has a twin.
    slow-marked (r15): at ~2 min this was the single largest test in
    the default run; the same surface is executed by bench.py (all
    150) and value-checked by the tools/check_oracle.py sweep every
    round, and the oracle-twin pairing is structurally
    asserted by test_registry_floor on every default run. Included
    at round close via SPARK_GRAFT_SLOW_TESTS=1."""
    qs = E.queries()
    oracles = E.oracle_sql()
    missing = sorted(set(qs) - set(oracles))
    assert missing == [], f"queries without oracle_sql twins: {missing}"
    failures = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            assert df.columns  # stable, non-empty schema
            df.count()
        except Exception as e:  # pragma: no cover
            failures[name] = repr(e)[:200]
    assert failures == {}


def test_round8_candidate_quality_classifier_matches_oracle(spark):
    """quality_classifier (train + apply, arith-hash twin) vs its
    DuckDB twin — ROUND-8 registration candidate (round 7's window
    slots went to the three round-6 candidates); value-checked here
    with the driver's own comparator until registered."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from tools.check_oracle import table_to_normalized

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    stbl = E._q_quality_classifier(spark, SF_DIR).toArrow()
    dtbl = con.execute(E._quality_classifier_sql()).arrow()
    sn, scn, sct = table_to_normalized(stbl)
    dn, dcn, dct = table_to_normalized(dtbl)
    assert (scn, sct) == (dcn, dct)
    assert len(sn) == len(dn) > 0
    diff = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert diff == [], diff[:3]


def test_round8_candidate_decontaminate_semantic_matches_oracle(spark):
    """decontaminate_semantic (banded-LSH cross-corpus cosine gate)
    vs its DuckDB twin — ROUND-8 registration candidate; the twin
    replays the hyperplane codebook, so the approximate candidate set
    itself is equality-checked."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from tools.check_oracle import table_to_normalized

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    stbl = E._q_decontaminate_semantic(spark, SF_DIR).toArrow()
    dtbl = con.execute(E._decontaminate_semantic_sql()).arrow()
    sn, scn, sct = table_to_normalized(stbl)
    dn, dcn, dct = table_to_normalized(dtbl)
    assert (scn, sct) == (dcn, dct)
    assert len(sn) == len(dn) > 0
    diff = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert diff == [], diff[:3]
    # every planted x1.01 copy is cosine-1.0 contamination
    rows = {
        r["vec_id"]: r
        for r in E._q_decontaminate_semantic(spark, SF_DIR).collect()
    }
    planted = [v for v in rows if v >= 1000000]
    assert planted and all(
        rows[v]["contaminated"] and rows[v]["max_sim"] == 1.0 for v in planted
    )
    assert any(not r["contaminated"] for r in rows.values())


def test_round8_candidate_ingest_stream_scored_matches_oracle(spark):
    """corpus_ingest_stream_scored (readStream → TTL content dedup →
    stateless supervised gate) vs its relational DuckDB twin — the
    engine's SECOND value-checked streaming entry, and the first with
    a TRAINED model inside the stream path. ROUND-8 registration
    candidate."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from tools.check_oracle import table_to_normalized

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    stbl = E._q_corpus_ingest_stream_scored(spark, SF_DIR).toArrow()
    dtbl = con.execute(E._corpus_ingest_scored_sql()).arrow()
    sn, scn, sct = table_to_normalized(stbl)
    dn, dcn, dct = table_to_normalized(dtbl)
    assert (scn, sct) == (dcn, dct)
    assert len(sn) == len(dn) > 0
    diff = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert diff == [], diff[:3]


def test_round8_candidate_mine_hard_negatives_matches_oracle(spark):
    """mine_hard_negatives (broadcast-query Arrow kernel, gold-masked
    per-partition top-k) vs its exact cross-product DuckDB twin —
    ROUND-8 registration candidate; ranking replayed with the same
    (round(sim,6) DESC, id ASC) rule on both engines."""
    import sys

    import duckdb

    sys.path.insert(0, "tools")
    from tools.check_oracle import table_to_normalized

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    stbl = E._q_mine_hard_negatives(spark, SF_DIR).toArrow()
    dtbl = con.execute(E._mine_hard_negatives_sql()).arrow()
    sn, scn, sct = table_to_normalized(stbl)
    dn, dcn, dct = table_to_normalized(dtbl)
    assert (scn, sct) == (dcn, dct)
    assert len(sn) == len(dn) > 0
    diff = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert diff == [], diff[:3]
    rows = E._q_mine_hard_negatives(spark, SF_DIR).collect()
    # a query's own gold rows (itself + vec_id+1) never surface
    assert all(
        r["neg_id"] != r["qid"] and r["neg_id"] != r["qid"] + 1
        for r in rows
    )
    # exactly k=5 ranks 1..5 per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_round_audit_current_for_fixtures():
    """ADVICE r10: the hash-exact ADC/LUT guarantee is certified per
    FIXTURE by the margin probes in tools/audit_round_boundaries.py,
    so a fixture refresh without a fresh FULL audit run must fail
    loudly instead of silently carrying stale margins. The artifact
    records a content (sha256) fingerprint of the audited sf dir; this
    pins artifact-vs-disk and rejects a partial (name-filtered) run
    as the standing artifact."""
    import json
    import os

    import pytest

    from tools.audit_round_boundaries import fixture_fingerprint

    path = os.path.join("tools", "round_audit.json")
    assert os.path.exists(path), "run tools/audit_round_boundaries.py"
    with open(path) as f:
        doc = json.load(f)
    if "fixtures" not in doc:
        pytest.xfail(
            "round_audit.json predates the fixture fingerprint — "
            "regenerate with tools/audit_round_boundaries.py"
        )
    assert doc.get("partial") is None, (
        "round_audit.json is a name-filtered partial run — regenerate "
        "the FULL artifact: python tools/audit_round_boundaries.py "
        f"{doc['sf_dir']}"
    )
    assert doc["fixtures"] == fixture_fingerprint(doc["sf_dir"]), (
        f"fixtures under {doc['sf_dir']} changed since the last "
        "boundary audit — re-run tools/audit_round_boundaries.py "
        "(the LUT/assignment margins are certified per fixture)"
    )


def test_bench_rerun_trigger_branches():
    """VERDICT r10 ask #6: the worst-segment rerun must fire on a
    uniformly-elevated lap (lap_factor > 1.15) even when the in-lap
    anchor spread stays under the burst threshold — exactly r10's
    driver-lap shape (factor 1.243, spread 1.596, rerun {})."""
    from bench import rerun_trigger

    assert rerun_trigger(anchor_spread=1.596, lap_factor=1.243) == "lap_factor"
    assert rerun_trigger(anchor_spread=2.25, lap_factor=0.98) == "anchor_spread"
    assert rerun_trigger(anchor_spread=2.25, lap_factor=1.5) == "anchor_spread"
    assert rerun_trigger(anchor_spread=1.3, lap_factor=1.0) is None
    assert rerun_trigger(anchor_spread=1.99, lap_factor=1.15) is None


def test_bench_slow_host_cold_lap_keeps_anchor_points():
    """r14 inherited-state fix: on a host where the cold lap blows the
    300 s warm-lap budget, the bench must still carry anchor samples —
    the pre-fix flow only anchored the single-lap mode, so the skipped
    warm lap left anchor_points empty and the median computation died
    (IndexError) before any JSON was printed."""
    from bench import run_laps

    def fake_lap(anchored):
        times = {"a": 200.0, "b": 150.0}  # cold_total 350 >= 300
        points = [{"after_n": 0, "sec": 0.5}, {"after_n": 2, "sec": 0.6}]
        return times, (points if anchored else [])

    times, anchor_points, cold_total, warm_subset = run_laps(fake_lap, laps=2)
    assert cold_total == 350.0
    assert anchor_points, "slow-host cold lap must keep its anchor samples"
    assert warm_subset == []  # no run_one supplied — cold-only, labeled
    # fast host: warm lap runs and its (anchored) points are the ones kept
    def fast_lap(anchored):
        return {"a": 1.0}, [{"after_n": 0, "sec": 0.2}, {"after_n": 1, "sec": 0.2}]

    _, pts, ct, ws = run_laps(fast_lap, laps=2)
    assert ct == 1.0 and pts and ws == []


def test_bench_slow_host_warm_subset_fallback():
    """VERDICT r14 ask #3/#4: a cold lap past the 300 s warm-lap budget
    must no longer produce a cold-only headline — the slowest queries
    are re-run warm (in cold-time order until subset_budget of cold
    time is covered) and self-labeled in warm_subset; failed warm
    reruns keep the cold number and stay out of the label."""
    from bench import run_laps

    def fake_lap(anchored):
        times = {"slow1": 200.0, "slow2": 90.0, "mid": 40.0, "tail": 10.0}
        points = [{"after_n": 0, "sec": 0.5}, {"after_n": 4, "sec": 0.6}]
        return times, points

    warm = {"slow1": 20.0, "slow2": 9.0, "mid": 4.0, "tail": 1.0}
    ran = []

    def run_one(name):
        ran.append(name)
        return warm[name]

    # budget 120: slow1 (200) alone exceeds it AFTER being counted, so
    # exactly slow1 + nothing else? spent=200 >= 120 stops before slow2.
    times, _, cold_total, ws = run_laps(fake_lap, 2, run_one=run_one, subset_budget=120)
    assert cold_total == 340.0
    assert ws == ["slow1"] and ran == ["slow1"]
    assert times == {"slow1": 20.0, "slow2": 90.0, "mid": 40.0, "tail": 10.0}
    # budget 300: slow1 (200) + slow2 (90) = 290 < 300, so mid is
    # still admitted (budget checked before adding); tail is not
    times2, _, _, ws2 = run_laps(fake_lap, 2, run_one=run_one, subset_budget=300)
    assert ws2 == ["slow1", "slow2", "mid"]
    assert times2["slow1"] == 20.0 and times2["slow2"] == 9.0
    assert times2["mid"] == 4.0 and times2["tail"] == 10.0
    # a failed warm rerun keeps the cold time and is not labeled warm
    times3, _, _, ws3 = run_laps(fake_lap, 2, run_one=lambda n: -1.0)
    assert ws3 == [] and times3["slow1"] == 200.0

"""Negative controls for the determinism-probe harness
(tools/audit_round_boundaries.py): a detector that never fires is
indistinguishable from a broken one, so these tests feed it synthetic
data that MUST flag — values parked on rounding halves for the margin
probe, sub-threshold runner-up gaps and coincidental exact ties for
the gap probe — plus clean data that must not. No Spark needed; the
probes are pure DuckDB + Python.
"""

from __future__ import annotations

import sys

import duckdb

sys.path.insert(0, "tools")

from tools.audit_round_boundaries import (  # noqa: E402
    FLAG_MARGIN,
    GAP_FLAG,
    audit_gap_probe,
    audit_probe,
)


def test_margin_probe_flags_a_rounding_half():
    con = duckdb.connect()
    # 1.0000005 * 1e6 sits (up to representation) on the x.5 grid;
    # 1.0000007 is ~0.2 units away — safely off it
    sql = """
    SELECT * FROM (VALUES (1.0000005::DOUBLE), (2.25::DOUBLE)) t(d_pre)
    """
    rec = audit_probe(sql, 6, con)
    assert rec["err"] is None
    col = rec["cols"]["d_pre"]
    assert col["flag"] and col["min_margin"] < FLAG_MARGIN

    clean = "SELECT 1.0000007::DOUBLE AS d_pre"
    rec2 = audit_probe(clean, 6, con)
    assert not rec2["cols"]["d_pre"]["flag"]


def test_margin_probe_counts_on_grid_values_as_safe():
    con = duckdb.connect()
    # exactly representable multiples of the grid: round is identity
    rec = audit_probe("SELECT 0.25::DOUBLE AS d_pre", 2, con)
    col = rec["cols"]["d_pre"]
    assert col["on_grid"] == 1 and col["min_margin"] is None
    assert not col["flag"]


def test_gap_probe_flags_tiny_gap_and_exact_tie():
    con = duckdb.connect()
    tiny = """
    SELECT * FROM (VALUES
      (1, 0, 0, 1.0::DOUBLE), (1, 0, 1, 1.0 + 1e-12),
      (2, 0, 0, 5.0::DOUBLE), (2, 0, 1, 9.0::DOUBLE)
    ) t(vec_id, stage, cid, d_pre)
    """
    rec = audit_gap_probe(tiny, con)
    assert rec["err"] is None
    assert rec["flag"] and rec["min_gap"] < GAP_FLAG and rec["zero_ties"] == 0

    tie = """
    SELECT * FROM (VALUES
      (1, 0, 0, 3.0::DOUBLE), (1, 0, 1, 3.0::DOUBLE)
    ) t(vec_id, stage, cid, d_pre)
    """
    rec2 = audit_gap_probe(tie, con)
    assert rec2["flag"] and rec2["zero_ties"] == 1

    clean = """
    SELECT * FROM (VALUES
      (1, 0, 0, 1.0::DOUBLE), (1, 0, 1, 2.0::DOUBLE),
      (1, 1, 0, 0.5::DOUBLE), (1, 1, 1, 0.9::DOUBLE)
    ) t(vec_id, stage, cid, d_pre)
    """
    rec3 = audit_gap_probe(clean, con)
    assert not rec3["flag"] and rec3["min_gap"] == 0.4 and rec3["n_vectors"] == 2


def test_probe_registry_renders_and_names_real_queries():
    """Every registered probe must render runnable SQL against the
    fixture views and reference an entry that actually exists (a
    typo'd probe silently guards nothing)."""
    import __spark_entry__ as E
    from tools.audit_round_boundaries import connect, gap_probes, tie_margin_probes

    known = set(E.oracle_sql())
    con = connect("/root/testdata/sf0.001", identity_round=0)
    for name, (sql, decimals) in tie_margin_probes().items():
        targets = name.split(".")[0].split("+")
        assert all(t in known for t in targets), name
        assert decimals >= 0
        rec = audit_probe(sql, decimals, con)
        assert rec["err"] is None, (name, rec["err"])
        assert rec["cols"], name  # at least one float column measured
    for name, sql in gap_probes().items():
        targets = name.split(".")[0].split("+")
        assert all(t in known for t in targets), name
        rec = audit_gap_probe(sql, con)
        assert rec["err"] is None, (name, rec["err"])
        assert rec["n_vectors"] > 0, name


def test_fixture_fingerprint_tracks_content_not_mtime(tmp_path):
    """The audit artifact pins the fixtures it certified. A redeploy
    that rewrites identical bytes (new mtimes) must keep the
    fingerprint; a single changed byte must break it."""
    import os
    import shutil

    from tools.audit_round_boundaries import fixture_fingerprint

    src = "/root/testdata/sf0.001"
    for fn in os.listdir(src):
        if fn.endswith(".parquet"):
            shutil.copyfile(os.path.join(src, fn), tmp_path / fn)
    before = fixture_fingerprint(str(tmp_path))
    assert before == fixture_fingerprint(src)

    for fn in before:
        st = os.stat(tmp_path / fn)
        os.utime(tmp_path / fn, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert fixture_fingerprint(str(tmp_path)) == before

    victim = tmp_path / "region.parquet"
    data = bytearray(victim.read_bytes())
    data[len(data) // 2] ^= 0x01
    victim.write_bytes(bytes(data))
    after = fixture_fingerprint(str(tmp_path))
    assert after["region.parquet"] != before["region.parquet"]
    assert {k: v for k, v in after.items() if k != "region.parquet"} == {
        k: v for k, v in before.items() if k != "region.parquet"
    }

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="include tests marked slow (heavyweight property/replay/"
        "compact sweeps)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight property-sweep / crash-replay / compaction "
        "tests, excluded from the default run so `pytest tests/ -x -q` "
        "finishes inside the driver's verification window (VERDICT r14 "
        "ask #2 — the 30-minute full suite was cut off mid-run and "
        "recorded tests_ok:false). Include with --runslow or "
        "SPARK_GRAFT_SLOW_TESTS=1; the full suite (slow included) is "
        "run at every round close before committing.",
    )


def pytest_collection_modifyitems(config, items):
    import os

    if config.getoption("--runslow") or os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow: excluded from the default run — set "
        "SPARK_GRAFT_SLOW_TESTS=1 or pass --runslow"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from data_pengadaan_agent_spark.session import get_spark

    # local[8] (r15): the suite must finish inside the driver's
    # verification window (VERDICT r14 ask #2); 4 task threads left
    # the 32-core sandbox 87% idle. Every asserted result is
    # partition-count-invariant by the repo's determinism discipline,
    # and the plan pins count node KINDS, not partition numbers.
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from data_pengadaan_agent_spark.sources.catalog import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture()
def pengadaan(spark):
    """Tiny reference-shaped fact table with the semantic-trap rows
    (FIXTURES.md §A1): substring pairs alat/peralatan, multi-year
    timestamps, >int32 budgets, NULLs."""
    rows = [
        (1, "Pengadaan alat tulis", "Dinas A", 5_400_000_000, "2023-12-27 11:30:49", "belanja,alat,tulis,kantor"),
        (2, "Peralatan kantor", "Dinas A", 150_000, "2024-01-05 08:00:00", "belanja,peralatan,kantor"),
        (3, "Perbaikan gedung", "Dinas B", 2_000_000_000, "2024-01-15 09:30:00", "perbaikan,gedung,kantor"),
        (4, "Rehabilitasi gedungnya", "Dinas B", 750_000_000, "2023-01-20 10:00:00", "rehabilitasi,gedungnya"),
        (5, "Jasa kebersihan", "Dinas C", 11, "2024-03-08 14:10:00", "jasa,tenaga,kebersihan"),
        (6, "Paket tanpa tanggal", "Dinas C", 99, None, "lain,lain"),
    ]
    df = spark.createDataFrame(
        rows,
        "kode_rup LONG, nama_paket STRING, satuan_kerja STRING, total_pagu LONG, "
        "tanggal_umumkan_paket STRING, filtered_keywords STRING",
    )
    return df


def jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn started), counted from the status
    store through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))

"""Tests for the benchmark's own helpers, on tiny inputs and without
Spark:

    python3 -m pytest perfbench/test_helpers.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import cleanup  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


# -- the percentile rule: at least ten samples beyond -------------------
@pytest.mark.parametrize("n, want", [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
                                     (100, 90.0), (200, 95.0), (1000, 99.0)])
def test_highest_tail_leaves_ten_samples_beyond(n, want):
    pct = stats.highest_tail(n)
    assert pct == want
    if pct is not None:
        assert stats.samples_beyond(n, pct) >= 10


def test_percentile_is_nearest_rank_and_refuses_thin_tails():
    values = [float(v) for v in range(1, 101)]  # 1..100, shuffled order is irrelevant
    assert stats.percentile(list(reversed(values)), 90.0) == 90.0
    assert stats.percentile(values, 50.0) == 50.0
    with pytest.raises(ValueError):
        stats.percentile(values[:99], 90.0)


# -- interval and self-time arithmetic ----------------------------------
def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_part_once():
    # span 0..10; children overlap each other and one pokes outside
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 3), (2, 4)]) == 7
    assert stats.self_time(0, 10, [(8, 12), (-5, 1)]) == 7
    assert stats.self_time(0, 10, [(11, 12)]) == 10


def test_drift_and_iqr_share():
    assert stats.drift([1.0] * 8) == 0.0
    assert stats.drift([2.0, 2.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]) == pytest.approx(-0.5)
    assert stats.iqr_share([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.iqr_share([1.0, 2.0, 3.0, 4.0, 5.0]) > 0


# -- metric names -------------------------------------------------------
@pytest.mark.parametrize("name", ["setup_s", "spark.job_s", "registry.build_s.gated", "op.tail_pct", "a-1"])
def test_metric_name_accepts(name):
    assert stats.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", ".x", "_x", "a b", "a/b", "x" * 65, "spark.jobs%"])
def test_metric_name_rejects(name):
    with pytest.raises(ValueError):
        stats.check_metric_name(name)


def test_manifest_matches_the_metrics_the_runner_prints():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in manifest["workloads"]} == set(run.WORKLOADS)
    for m in manifest["end_to_end"] + manifest["per_layer"]:
        stats.check_metric_name(m["name"])


# -- the cleanup helper stays inside the namespace ----------------------
def test_owned_paths(tmp_path):
    root = str(tmp_path)
    assert cleanup.owned(os.path.join(cleanup.WORK_DIR, "agent", "x.parquet"), root)
    assert cleanup.owned(os.path.join(root, "spark-warehouse", f"postings_index_{cleanup.TAG}"), root)


@pytest.mark.parametrize("rel", [
    ".", "README.md", "spark-warehouse", f"spark-warehouse/_{cleanup.TAG}",
    "spark-warehouse/postings_index_sf0.1", f"spark-warehouse/a/b_{cleanup.TAG}",
    f"other/x_{cleanup.TAG}", f"spark-warehouse/../x_{cleanup.TAG}",
])
def test_remove_refuses_paths_outside_the_namespace(tmp_path, rel):
    path = os.path.join(str(tmp_path), rel)
    assert not cleanup.owned(path, str(tmp_path))
    with pytest.raises(ValueError):
        cleanup.remove(path, str(tmp_path))


def test_remove_refuses_links_out_of_the_namespace(tmp_path):
    outside = tmp_path / "keep"
    outside.mkdir()
    wh = tmp_path / "spark-warehouse"
    wh.mkdir()
    link = wh / f"x_{cleanup.TAG}"
    link.symlink_to(outside)
    with pytest.raises(ValueError):
        cleanup.remove(str(link), str(tmp_path))
    assert outside.exists()


def test_remove_deletes_an_owned_directory(tmp_path):
    target = tmp_path / "spark-warehouse" / f"bloom_index_{cleanup.TAG}"
    (target / "meta").mkdir(parents=True)
    (target / "meta" / "part-0").write_text("x")
    cleanup.remove(str(target), str(tmp_path))
    assert not target.exists()
    assert (tmp_path / "spark-warehouse").exists()


# -- inputs depend on the seed only --------------------------------------
def test_generators_are_seed_deterministic():
    def make(seed):
        rng = np.random.default_rng(seed)
        vocab = gen.keyword_vocab(rng, 60)
        return vocab, gen.procurement(rng, 50, vocab), gen.documents(rng, np.arange(10))

    a, b, c = make(7), make(7), make(8)
    assert a[0] == b[0] and a[1].equals(b[1]) and a[2].equals(b[2])
    assert not a[1].equals(c[1])
    assert all(w in a[0] for pair in gen.TRAP_PAIRS for w in pair)


def test_procurement_budgets_exceed_int32():
    rng = np.random.default_rng(1)
    pagu = gen.procurement(rng, 500, gen.keyword_vocab(rng, 60))["total_pagu"].to_pylist()
    assert max(pagu) > 2**31 - 1 and min(pagu) >= 11

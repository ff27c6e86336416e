"""PassJoin fuzzy matching: completeness vs a brute-force oracle (the
pigeonhole lemma is structural — EVERY true pair must surface), exact
distances, degenerate short strings and the no-cartesian plan
shape."""

from __future__ import annotations

import pytest

from data_pengadaan_agent_spark.operators import fuzzy as FZ


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute(rows: list[tuple[int, str]], d: int) -> set[tuple[int, int, int]]:
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, ta), (ib, tb) = rows[i], rows[j]
            if abs(len(ta) - len(tb)) <= d:
                dist = _lev(ta, tb)
                if dist <= d:
                    a, b = sorted((ia, ib))
                    out.add((a, b, dist))
    return out


def _hand_corpus():
    return [
        (1, "procurement"),
        (2, "procurment"),  # 1 deletion from 1
        (3, "procurament"),  # 1 insertion from 1 (a)
        (4, "procuremant"),  # 1 substitution from 1
        (5, "prokurement"),  # 1 substitution from 1
        (6, "entirely different"),
        (7, "procurement"),  # identical to 1 (dist 0)
        (8, "rpocurement"),  # transposition = 2 edits from 1
        (9, ""),  # empty
        (10, "a"),  # length <= d
        (11, "b"),  # dist 1 from 10
        (12, "ab"),  # dist 1 from 10 and 11
    ]


@pytest.mark.parametrize("d", [1, 2])
def test_dup_pairs_match_brute_force(spark, d):
    rows = _hand_corpus()
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in FZ.fuzzy_dup_pairs(df, max_dist=d).collect()
    }
    assert got == _brute(rows, d)
    assert (1, 7, 0) in got  # identical strings subsume exact dedup
    if d == 1:
        assert not any(a == 1 and b == 8 for a, b, _ in got)  # transposition=2
    else:
        assert (1, 8, 2) in got


def test_dup_pairs_property_vs_brute(spark):
    """Deterministic pseudo-random corpus (hash-derived mutations of a
    seed vocabulary): the blocked join must equal brute force exactly,
    at both supported distances — insertions, deletions, substitutions
    at every position class (head, middle, tail)."""
    base = "the quick brown fox jumps over the lazy dog"
    rows, rid = [], 0
    for i in range(40):
        h = (i * 2654435761) % (1 << 32)
        pos = h % len(base)
        ch = chr(ord("a") + (h >> 8) % 26)
        kind = (h >> 16) % 3
        if kind == 0:
            s = base[:pos] + ch + base[pos + 1 :]  # substitute
        elif kind == 1:
            s = base[:pos] + ch + base[pos:]  # insert
        else:
            s = base[:pos] + base[pos + 1 :]  # delete
        rows.append((rid, s))
        rid += 1
    rows.append((rid, base))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    for d in (1, 2):
        got = {
            (r["a_id"], r["b_id"], r["dist"])
            for r in FZ.fuzzy_dup_pairs(df, max_dist=d).collect()
        }
        want = _brute(rows, d)
        assert got == want and len(want) > 40


def test_no_cartesian_product_in_plan(spark):
    df = spark.createDataFrame(
        _hand_corpus(), "doc_id LONG, text STRING"
    )
    plan = (
        FZ.fuzzy_dup_pairs(df, max_dist=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the ONLY nested-loop join is the parameter-small short block
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="max_dist"):
        FZ.fuzzy_dup_pairs(df, max_dist=0)


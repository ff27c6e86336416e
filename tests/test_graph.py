"""Graph family: edge derivation (canonical form + support
sparsifier), exact triangle enumeration under the degree-ordered
orientation (once-only, orientation-independent counts vs brute
force), integer clustering coefficients, and incremental connected
components against a union-find reference."""

from __future__ import annotations

import itertools

import pytest

from data_pengadaan_agent_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "u LONG, v LONG"
    )


def _brute_triangles(pairs):
    es = {(min(a, b), max(a, b)) for a, b in pairs}
    verts = sorted({x for e in es for x in e})
    return sum(
        1
        for a, b, c in itertools.combinations(verts, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )


def test_copurchase_edges_canonical_and_thresholded(spark):
    rows = []
    # parts 1,2 co-occur in orders 10 and 11; parts 1,3 only in order 10
    for o, parts in [(10, [1, 2, 3]), (11, [2, 1]), (12, [3])]:
        rows += [(o, p) for p in parts]
    li = spark.createDataFrame(rows, "l_orderkey LONG, l_partkey LONG")
    got = sorted(map(tuple, G.copurchase_edges(li, min_co=2).collect()))
    assert got == [(1, 2)]
    got1 = sorted(map(tuple, G.copurchase_edges(li, min_co=1).collect()))
    assert got1 == [(1, 2), (1, 3), (2, 3)]


def test_triangles_exact_on_known_graphs(spark):
    # K4: 4 triangles; square with one diagonal: 2; pure ring: 0
    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    assert G.triangles(_edges(spark, k4)).count() == 4
    sq = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    assert G.triangles(_edges(spark, sq)).count() == 2
    ring = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    assert G.triangles(_edges(spark, ring)).count() == 0


def test_triangles_once_only_under_skewed_hub(spark):
    """A hub joined to a ring: every ring edge closes exactly one
    triangle through the hub. The degree-ordered orientation must
    produce each exactly once even though the hub dominates every
    edge's endpoint pair."""
    n = 12
    ring = [(i, i % n + 1) for i in range(1, n + 1)]
    hub = [(0, i) for i in range(1, n + 1)]
    tri = G.triangles(_edges(spark, ring + hub))
    rows = [tuple(r) for r in tri.collect()]
    assert len(rows) == len(set(rows)) == n
    assert G.triangles(_edges(spark, ring + hub)).count() == _brute_triangles(
        ring + hub
    )


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_triangles_match_brute_force_random(spark, seed):
    import random

    rng = random.Random(seed)
    pairs = {
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randrange(20), rng.randrange(20)) for _ in range(60)
        )
        if a != b
    }
    assert G.triangles(_edges(spark, pairs)).count() == _brute_triangles(pairs)


def test_triangle_stats_values(spark):
    # square + diagonal (1,3): deg(1)=deg(3)=3, deg(2)=deg(4)=2
    sq = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    rows = {r.vertex: r for r in G.triangle_stats(_edges(spark, sq)).collect()}
    assert rows[1].triangles == 2 and rows[3].triangles == 2
    assert rows[2].triangles == 1 and rows[4].triangles == 1
    # vertex 1: 2·2·1e6 DIV (3·2) = 666_666; vertex 2: 2·1·1e6 DIV 2 = 1e6
    assert rows[1].clustering_ppm == 666_666
    assert rows[2].clustering_ppm == 1_000_000
    # ordered by triangles desc then vertex
    ordered = [r.vertex for r in G.triangle_stats(_edges(spark, sq)).collect()]
    assert ordered == [1, 3, 2, 4]


def test_degree_histogram(spark):
    sq = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    got = {r.degree: r.n_vertices for r in
           G.degree_histogram(_edges(spark, sq)).collect()}
    assert got == {2: 2, 3: 2}


def _py_cc(pairs, nodes):
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize("seed", [3, 41])
def test_merge_components_equals_batch_cc(spark, seed):
    import random

    rng = random.Random(seed)
    nodes = list(range(30))
    all_pairs = sorted({
        tuple(sorted((rng.randrange(30), rng.randrange(30))))
        for _ in range(25)
    } - {(i, i) for i in range(30)})
    base_pairs = [p for p in all_pairs if max(p) < 20]
    new_pairs = [p for p in all_pairs if max(p) >= 20]
    base_lab = _py_cc(base_pairs, range(20))
    labels = spark.createDataFrame(
        sorted(base_lab.items()), "node LONG, label LONG"
    )
    merged = G.merge_components(
        labels,
        spark.createDataFrame(new_pairs or [(0, 0)], "u LONG, v LONG").filter(
            "u <> v" if new_pairs else "u <> u"
        ),
        new_nodes=spark.createDataFrame([(n,) for n in range(20, 30)], "node LONG"),
    )
    got = {r.node: r.label for r in merged.collect()}
    assert got == _py_cc(all_pairs, nodes)


def test_merge_components_noop_and_singletons(spark):
    labels = spark.createDataFrame([(1, 1), (2, 1), (5, 5)], "node LONG, label LONG")
    out = G.merge_components(
        labels,
        spark.createDataFrame([], "u LONG, v LONG"),
        new_nodes=spark.createDataFrame([(9,)], "node LONG"),
    )
    got = {r.node: r.label for r in out.collect()}
    assert got == {1: 1, 2: 1, 5: 5, 9: 9}
    # unlabeled edge endpoints become singletons then merge
    out2 = G.merge_components(
        labels, spark.createDataFrame([(7, 8), (8, 2)], "u LONG, v LONG")
    )
    got2 = {r.node: r.label for r in out2.collect()}
    assert got2 == {1: 1, 2: 1, 5: 5, 7: 1, 8: 1}


def test_merge_components_guard_rails(spark):
    labels = spark.createDataFrame([(i, i) for i in range(10)], "node LONG, label LONG")
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "u LONG, v LONG")
    with pytest.raises(ValueError, match="label pairs"):
        G.merge_components(labels, edges, max_label_pairs=3)
    out = {r.node: r.label for r in G.merge_components(labels, edges).collect()}
    assert set(out.values()) == {0}


def test_merge_components_string_labels_and_topk_zero(spark):
    """Self-review r12: the relabel map schema derives from the input
    labeling — string labels (dedup_clusters is type-generic) used to
    crash createDataFrame('label long, ...') on the first merge."""
    labels = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], "node STRING, label STRING"
    )
    new_edges = spark.createDataFrame([("b", "c")], "u STRING, v STRING")
    merged = G.merge_components(labels, new_edges)
    got = {r.node: r.label for r in merged.collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}
    assert dict(merged.dtypes)["label"] == "string"


def test_triangle_stats_does_not_double_checkpoint(spark):
    """ADVICE r13: triangle_stats checkpoints edges, and triangles()
    used to re-checkpoint the already-materialized frame — a second
    full copy of the edge list in executor storage per census call.
    Now triangles() recognizes a LogicalRDD input: the pins are
    exactly {edges, oriented}, and the values are untouched."""
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)])
    rows = G.triangle_stats(e).collect()
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after - before <= 2  # edges + oriented, NOT a second edges
    assert {(r.vertex, r.triangles) for r in rows} == {
        (1, 1), (2, 1), (3, 2), (4, 1), (5, 1)
    }


"""Exact integer graph analytics over derived co-occurrence graphs.

A curation pipeline keeps meeting graphs: near-dup pair graphs (whose
connected components operators/dedup.py already closes), co-purchase /
co-occurrence graphs, link graphs for quality propagation. This module
adds the next analytics tier — degree structure, exact triangle
counting, clustering coefficients and incremental connected
components — all in the repo's exact-arithmetic class (BIGINT
end-to-end, integer DIV for every ratio), so DuckDB twins certify
them value-for-value with no rounding probes.

Spark-first scale design:

- Edges are a plain DataFrame (u, v) in canonical u < v form — one
  distinct-groupBy shuffle to build, bucketable by u for standing
  graphs.
- ``triangle_count`` uses the degree-ordered orientation (Cohen 2009 /
  Suri–Vassilvitskii WWW'11 pattern): orient each undirected edge
  from its (degree, id)-smaller endpoint to the larger, enumerate
  wedges only among each vertex's OUT-neighbors, and close them
  against oriented edges. Out-degree under this orientation is
  O(sqrt(m)), so the wedge exchange is bounded even on skewed
  power-law graphs — THE difference between a plan that survives a
  100 TB link graph and one that explodes on its hottest hub. Every
  triangle is produced exactly once (its vertices are totally ordered
  by (degree, id)), so counts need no post-deduplication.

Reference parity note: the reference has no graph operators
(SURVEY.md §2 extensions) — this family extends the engine the same
way joins/windows did, with the training-data use case (dup-graph
structure quality, link-based scoring) as the target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_PPM = 1_000_000


def copurchase_edges(lineitem: DataFrame, min_co: int = 2) -> DataFrame:
    """Undirected co-purchase edges over parts: {u, v} iff parts u and
    v appear in the SAME order in >= min_co distinct orders. Canonical
    u < v. The per-order self-join explodes at most C(order_size, 2)
    pairs (TPC-H order size <= 7), then one groupBy counts support —
    min_co is the sparsifier that keeps the graph analytic-sized
    (min_co=1 on a 100 TB basket table is a deliberate foot-gun;
    support thresholds are how co-occurrence graphs are actually
    built)."""
    op = lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(b, "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= int(min_co))
        .select("u", "v")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(vertex, degree) — each undirected edge counts once per side."""
    return (
        edges.select(F.col("u").alias("vertex"))
        .unionAll(edges.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(degree, n_vertices) — the structure-at-a-glance rollup."""
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices"))
        .orderBy("degree")
    )


def _oriented(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation: (src, dst) with (deg, id) of src
    strictly below dst — a total order, so every undirected edge gets
    exactly one direction and every triangle exactly one ordered
    (x, y, z) realization."""
    deg = degrees(edges)
    e = (
        edges.join(deg.withColumnRenamed("vertex", "u"), "u")
        .withColumnRenamed("degree", "du")
        .join(deg.withColumnRenamed("vertex", "v"), "v")
        .withColumnRenamed("degree", "dv")
    )
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("du")).otherwise(F.col("dv")).alias("sdeg"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    )


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles, one row (x, y, z) each, x→y→z in degree order.
    Wedges pair each vertex's out-neighbors ((deg,id) of y below z),
    then close against the oriented edge set — the bounded-out-degree
    plan described in the module docstring.

    Both frames are materialized ONCE (localCheckpoint): ``edges`` is
    typically a derived graph (a groupBy over a basket self-join) and
    the oriented list is consumed THREE times (two wedge sides + the
    closure). Without the barrier Catalyst inlines the derivation
    into every leg — measured 94 scans of lineitem and zero
    ReusedExchange in the co-purchase census plan — which is the
    difference between a plan that survives a 100 TB basket table and
    one that re-runs its heaviest join dozens of times. The
    sparsified edge list is analytic-sized by the min_co contract.

    ADVICE r13: an already-materialized input (triangle_stats passes
    its own checkpoint) is NOT re-checkpointed — the second eager
    pass copied the full edge list into executor storage again for
    nothing — and an edge checkpoint THIS call created is released
    once the oriented list exists (the result depends only on ``o``)."""
    own_edges = not _is_materialized(edges)
    edges = _materialize_once(edges)
    o = _oriented(edges).localCheckpoint(eager=True)
    if own_edges:
        _release_local_checkpoint(edges)
    w1 = o.select(
        F.col("src").alias("x"),
        F.col("dst").alias("y"),
        F.col("ddeg").alias("ydeg"),
    )
    w2 = o.select(
        F.col("src").alias("x"),
        F.col("dst").alias("z"),
        F.col("ddeg").alias("zdeg"),
    )
    wedges = w1.join(w2, "x").filter(
        F.struct(F.col("ydeg"), F.col("y")) < F.struct(F.col("zdeg"), F.col("z"))
    )
    closer = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    return wedges.join(closer, ["y", "z"], "left_semi").select("x", "y", "z")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-vertex (vertex, degree, triangles, clustering_ppm) for
    vertices on >= 1 triangle. clustering_ppm = 10^6·2·tri DIV
    (deg·(deg−1)) — the local clustering coefficient as exact integer
    ppm (every vertex here has deg >= 2: it closes a triangle).
    ``edges`` is materialized once up front so the census and the
    degree join share the same checkpointed rows instead of each
    re-deriving the graph (see ``triangles`` — which, per ADVICE r13,
    recognizes the checkpoint and no longer materializes a second
    copy)."""
    edges = _materialize_once(edges)
    tri = triangles(edges)
    # ONE wedge pass (r15, guide §1.2): the old 3-way unionAll of
    # per-corner projections kept THREE copies of the wedge-join
    # subtree in the plan — each union leg prunes a different corner
    # column, so the subtrees are canonically different and only
    # their input exchanges (not the join work) could be reused; the
    # expensive wedge pairing + closure probe executed three times.
    # explode(array(x, y, z)) yields the identical vertex multiset
    # from a single copy of the join.
    per_vertex = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return (
        per_vertex.join(degrees(edges), "vertex")
        .select(
            "vertex",
            "degree",
            "triangles",
            F.expr("2 * triangles * 1000000 DIV (degree * (degree - 1))")
            .cast("bigint")
            .alias("clustering_ppm"),
        )
        .orderBy(F.desc("triangles"), "vertex")
    )


def _release_local_checkpoint(df: DataFrame) -> None:
    """Actually free a superseded localCheckpoint: DataFrame.unpersist
    only clears cache-manager entries and is a NO-OP for the RDD
    blocks a localCheckpoint pins (ADVICE r12), so an iterative loop
    would hold up to max_iters full copies until GC. The blocks
    belong to the LogicalRDD behind the checkpointed plan — unpersist
    THAT RDD (verified live: storage-info count drops to 0).
    Best-effort: on any reflection surprise, fall back to the
    ContextCleaner (correctness is unaffected either way)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - plan shape surprise
        pass


def _is_materialized(df: DataFrame) -> bool:
    """True iff the frame IS a materialization barrier already — its
    analyzed plan is the LogicalRDD a localCheckpoint leaves behind.
    Used to avoid double-checkpointing (ADVICE r13: triangle_stats →
    triangles re-materialized the same edge list, a full second copy
    in executor storage) and to decide checkpoint OWNERSHIP: a frame
    that arrives materialized belongs to the caller and must never be
    released here. Conservative on any reflection surprise (False →
    worst case one redundant checkpoint, never a lost release)."""
    try:
        return (
            df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
    except Exception:  # pragma: no cover - plan shape surprise
        return False


def _materialize_once(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager) unless the plan already is one."""
    return df if _is_materialized(df) else df.localCheckpoint(eager=True)


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    node_col: str = "node",
    label_col: str = "label",
    u_col: str = "u",
    v_col: str = "v",
    max_label_pairs: int = 100_000,
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of
    NEW edges (and optional new nodes) into an existing min-id
    labeling without re-running CC over the full edge set — the
    label-CONTRACTION pattern: map each new edge's endpoints through
    the current labeling (unlabeled endpoints become their own
    singleton label), reduce to the DISTINCT label-pair graph, close
    it with a driver-side union-find (min root wins), and broadcast
    the relabel map back over the labeling.

    Why this scales where re-running CC does not: the iterative part
    touches only distinct label pairs — bounded by the BATCH's
    distinct component adjacencies, never by corpus size or history
    — and the corpus-sized work is one broadcast-map projection.
    ``max_label_pairs`` guards the driver collect: exceeding it means
    the batch merges more distinct components than a sane increment
    and the caller should fall back to full CC (fails loud, never
    silently truncates).

    Canonical invariant: if the input labels are min-reachable-id
    (dedup_clusters' contract), the output is too — union-find roots
    at the minimum label, and the minimum over a union of min-ids is
    the global min. So `merge_components(CC(base), new)` equals
    `CC(base ∪ new)` exactly — the property the oracle twin
    certifies."""
    lab = labels.select(F.col(node_col).alias("node"), F.col(label_col).alias("label"))
    edges = new_edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    endpoint_nodes = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    extra = endpoint_nodes
    if new_nodes is not None:
        extra = extra.unionAll(new_nodes.select(F.col(node_col).alias("node")))
    singletons = (
        extra.distinct()
        .join(lab.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("label"))
    )
    all_labels = lab.unionByName(singletons).localCheckpoint(eager=True)

    lu = all_labels.withColumnRenamed("node", "u").withColumnRenamed("label", "la")
    lv = all_labels.withColumnRenamed("node", "v").withColumnRenamed("label", "lb")
    comp_pairs = (
        edges.join(lu, "u").join(lv, "v")
        .filter(F.col("la") != F.col("lb"))
        .select("la", "lb")
        .distinct()
    )
    rows = comp_pairs.limit(int(max_label_pairs) + 1).collect()
    if len(rows) > max_label_pairs:
        raise ValueError(
            f"merge_components: batch merges > {max_label_pairs} distinct "
            "label pairs — fall back to full CC (dedup_clusters) for this "
            "batch or raise max_label_pairs"
        )

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r.la), find(r.lb)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    remap = [(x, find(x)) for x in list(parent)]
    if not remap:
        return all_labels.select(
            F.col("node").alias(node_col), F.col("label").alias(label_col)
        )
    spark = labels.sparkSession
    # schema derived from the INPUT labeling, not hardcoded long:
    # dedup_clusters (this function's contract source) is label-type-
    # generic — string labels used to crash here and int labels
    # silently widened to bigint, breaking later unions
    # (self-review r12)
    from data_pengadaan_agent_spark.sources.catalog import local_df

    ltype = all_labels.schema["label"].dataType.simpleString()
    m = local_df(spark, remap, f"label {ltype}, new_label {ltype}")
    return (
        all_labels.join(F.broadcast(m), "label", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce("new_label", "label").alias(label_col),
        )
    )

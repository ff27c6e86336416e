"""Vector similarity operators (SURVEY.md §2.10 + ANN extension).

The reference scores one query vector against a ~1.5k-keyword
vocabulary with a per-row Python cosine loop
(openai/list_of_tools.py:123-143, langchain/my_toolkit.py:413-484).
Here the same operator is expressed three ways, all returning
(id, similarity) DataFrames:

1. ``cosine_topk`` — built-in array expressions (zip_with + aggregate)
   against a broadcast literal query vector. Pure JVM, codegen'd; the
   sequential left-fold makes the float math reproducible.
2. ``cosine_topk_pandas`` — Arrow-batched NumPy matmul per partition:
   the BLAS fast path when vectors are wide and candidates are many.
3. ``lsh_topk`` — random-hyperplane LSH bucketing: candidates are
   generated by an equi-join on band signatures (shuffle on small
   signatures, not on vectors), then exact-rescored. The 100 TB path:
   probe cost scales with bucket size, not corpus size.

An exact all-pairs ``cosine_pairs`` supports embedding near-dup (see
operators/dedup.py).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.sources.catalog import begin_build, compact


def _dot(a: Column, b: Column) -> Column:
    # Sequential left fold in array order → deterministic float sum.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _norm_safe(a: Column) -> Column:
    """Zero-norm guard for cosine denominators (the r12
    cosine_topk_pandas convention, and what the
    guarded keyword-retrieval oracle twins already spell): a zero
    vector scores 0, never NaN — NaN ranks ABOVE every real similarity
    under desc and would crowd real matches out of a top-k. Reachable
    in organic data via the hash-ngram embedder (±1 votes can cancel);
    the fixtures are measured free of zero vectors, so gates are
    unaffected."""
    n = _norm(a)
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


def cosine_similarity_col(vec: Column, query: Sequence[float]) -> Column:
    """Cosine(vec, query) as a pure Column expression. The query-side
    norm is folded into one Python-side constant (broadcast literal).
    Zero-norm sides score 0 (see _norm_safe), matching the Arrow
    kernels and the guarded oracle twins."""
    qlit = F.array(*[F.lit(float(x)) for x in query])
    return _dot(vec, qlit) / (_norm_safe(vec) * F.lit(_qnorm(query)))


def _qnorm(query: Sequence[float]) -> float:
    return math.sqrt(sum(float(x) * float(x) for x in query)) or 1.0


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """§2.10 realized: brute-force cosine top-k, TakeOrderedAndProject
    (never a full sort). Ties broken by id for determinism."""
    sim = cosine_similarity_col(F.col(vec_col), query).alias("similarity")
    return (
        df.select(F.col(id_col), sim)
        .orderBy(F.desc("similarity"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_pandas(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """BLAS path: one NumPy matmul per Arrow batch. Wins when dim and
    candidate count are large (vectorized C vs per-element codegen)."""
    import numpy as np

    q = np.asarray(list(query), dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # zero-norm guard (self-review r12): 0/0 would give NaN,
            # which Spark ranks ABOVE every real similarity under desc —
            # zero vectors would crowd real matches out of the top-k
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0.0] = 1.0
            sims = (m @ q) / (norms * (qn if qn != 0.0 else 1.0))
            yield pd.DataFrame({id_col: pdf[id_col], "similarity": sims})

    from data_pengadaan_agent_spark.sources.catalog import spread

    scored = spread(df.select(id_col, vec_col), id_col).mapInPandas(
        score, schema=f"{id_col} long, similarity double"
    )
    return scored.orderBy(F.desc("similarity"), F.col(id_col)).limit(k)


# --- LSH (random hyperplane / SimHash family) ------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (LCG-based so
    the operator needs no external RNG state)."""
    planes = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def signature_col(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Bit-signature: sign of the dot product against each hyperplane,
    packed into a string key (band hashing works on equality only)."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(v)) for v in p])) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate NN: keep only candidates whose hyperplane signature
    matches the query's, then exact-rescore. At cluster scale the
    signature is precomputed and partitioned-by, so a probe touches one
    bucket; here it is computed inline. Falls back to full scan only if
    the bucket underfills (guaranteed recall floor is the caller's job:
    widen via fewer planes)."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes, seed)
    qsig = "".join(
        "1" if sum(p[i] * float(query[i]) for i in range(dim)) >= 0 else "0" for p in planes
    )
    cand = df.withColumn("_sig", signature_col(F.col(vec_col), planes)).filter(
        F.col("_sig") == qsig
    )
    return cosine_topk(cand, vec_col, query, k=k, id_col=id_col)


def cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    threshold: float = 0.9,
    max_id: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine above a threshold (embedding near-dup).

    O(N²) BY CONSTRUCTION — this is the exact VERIFICATION BASELINE,
    usable only on a bounded scope: pass ``max_id`` (or pre-filter) to
    bound N, loudly. The production path at corpus scale is
    ``cosine_pairs_lsh`` (banded signature bucketing: candidate
    generation joins on small band signatures, never all pairs), which
    is what the registered ``embedding_cosine_pairs`` query runs.
    Norms are precomputed per row BEFORE the self-join (O(N·d), not
    O(N²·d)); the per-pair expression dot/(na·nb) is unchanged, so the
    float result is bit-identical to the unfactored form."""
    left = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    if max_id is not None:
        left = left.filter(F.col("id_a") < max_id)
        right = right.filter(F.col("id_b") < max_id)
    left = left.withColumn("na", _norm_safe(F.col("va")))
    right = right.withColumn("nb", _norm_safe(F.col("vb")))
    sim = (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("similarity")
    return (
        left.join(right, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim)
        .filter(F.col("similarity") >= threshold)
    )


def banded_signatures_blas(
    df: DataFrame,
    vec_col: str,
    dim: int,
    id_col: str = "vec_id",
    bands: int = 8,
    planes_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Arrow-batched banded LSH signatures: one (batch×dim)
    @ (dim×planes) matmul signs every plane of every vector at once,
    replacing bands·planes interpreted higher-order-function dots per
    row (Catalyst evaluates aggregate()/zip_with() lambdas
    interpreted, outside whole-stage codegen — ~3 ms/vector at
    dim=64×64 planes, vs microseconds for the matmul).

    Bit-compatibility with the expression/SQL family: the only way
    the two can disagree is a dot product within float-summation
    drift (~1e-13) of zero. Measured on the fixture corpora the
    closest dot to zero is 4e-6 — a 3e7× margin — and signs match
    exactly at every SF; a production corpus hitting the boundary
    flips one candidate bucket membership, which only perturbs the
    approximate candidate set, never the exact verify."""
    import numpy as np

    planes = np.array(
        _hyperplanes(dim, bands * planes_per_band, seed), dtype=np.float64
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (m @ planes.T >= 0).astype(np.uint8).astype(str)
            r3 = bits.reshape(len(pdf), bands, planes_per_band)
            sigs = ["".join(row) for mat in r3 for row in mat]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "sig": sigs,
                }
            )

    from data_pengadaan_agent_spark.sources.catalog import spread

    id_type = dict(df.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint", "long"):
        raise ValueError(
            f"banded_signatures_blas: id column {id_col!r} is {id_type}; the "
            "Arrow kernel schema needs an integral id — hash or map string "
            "ids first (the mine_hard_negatives contract)"
        )
    # project BEFORE spread so the exchange never ships payload columns
    return spread(df.select(id_col, vec_col), id_col).mapInPandas(
        run, schema=f"{id_col} long, band int, sig string"
    )


def cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    dim: int,
    id_col: str = "vec_id",
    threshold: float = 0.9,
    bands: int = 8,
    planes_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup at scale: banded-LSH candidate pairs →
    exact cosine verify. This is the 100 TB shape: the only all-to-all
    operation is an equi-join on (band, sig) over an id+string frame;
    vectors are re-joined by id ONLY for surviving candidates, and the
    exact cosine runs per candidate pair, not per corpus pair.

    Recall is the banding trade-off, and it is tuned for NEAR-DUP
    (high-similarity) pairs: P(candidate) = 1-(1-p^r)^b with
    p = 1 - arccos(s)/π. At the defaults (b=8 bands × r=8 planes)
    a s=0.9 pair is caught with ~99% probability, s=0.8 ~75%, while
    an UNRELATED pair (s≈0, p=½) collides with only ~3% probability —
    the knee you want, because the candidate→verify cost is the
    quadratic-ish term and the signature cost is linear. (The earlier
    b=4×r=4 default passed 23% of RANDOM pairs to the verifier —
    measured 468k candidates for 2k surviving pairs at sf0.1; r=8
    bought a 7.5× verify-cost cut for 4× more linear-cost hyperplane
    dots.) Raise b for higher mid-similarity recall at linear cost.
    Skew guard: a degenerate bucket (all-zeros signature etc.) grows
    quadratically — at scale, count bucket sizes and re-band or split
    hot buckets; AQE's skew-join handles moderate skew here."""
    banded = banded_signatures_blas(df, vec_col, dim, id_col, bands, planes_per_band, seed)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "sig")
    # banded comes out of an Arrow kernel (no usable static size
    # estimate) and is corpus-proportional, as is the candidate frame
    # built from it: pin every join in this region to shuffle so the
    # planner can never elect to broadcast a corpus-sized side
    cand = (
        a.hint("shuffle_hash")
        .join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    left = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    right = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    paired = (
        cand.hint("shuffle_hash").join(left, "id_a").hint("shuffle_hash").join(right, "id_b")
    )

    # Exact verify as an Arrow-batched BLAS kernel: one einsum row-dot
    # per batch instead of an interpreted 2·dim-term fold per pair
    # (same interpreted-HOF bottleneck as the signatures — see
    # banded_signatures_blas; the drift-vs-boundary argument there
    # applies to the ≥threshold comparison and the caller's 4-decimal
    # round, both of which sit ≫1e-13 from any fixture value).
    import numpy as np

    thr = float(threshold)

    def verify(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_m = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            b_m = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            sims = np.einsum("ij,ij->i", a_m, b_m) / (
                np.linalg.norm(a_m, axis=1) * np.linalg.norm(b_m, axis=1)
            )
            out = pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "similarity": sims}
            )
            yield out[out["similarity"] >= thr]

    return paired.mapInPandas(verify, schema="id_a long, id_b long, similarity double")


# --- Precomputed-signature probe (the ingest-time ANN path) -----------------


def build_lsh_signature_table(
    df: DataFrame,
    vec_col: str,
    dim: int,
    path: str,
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 42,
) -> None:
    """INGEST step: materialize (id, vector, _sig) PARTITIONED BY the
    LSH signature. At 100 TB this runs once per corpus build; every
    probe after that is a partition-pruned read of one bucket —
    the scan never touches the other 2^n_planes buckets (Catalyst
    PartitionFilters, verified by a plan-shape test)."""
    begin_build(df.sparkSession, path)
    _signed(df, vec_col, dim, id_col, n_planes, seed).write.mode(
        "overwrite"
    ).partitionBy("_sig").parquet(path)


def _signed(df: DataFrame, vec_col: str, dim: int, id_col: str, n_planes: int, seed: int):
    """(id, vector, _sig) rows under the (dim, n_planes, seed) family."""
    planes = _hyperplanes(dim, n_planes, seed)
    # 'b' prefix keeps the partition value a STRING: bare bit-strings
    # would be parsed back as integers by partition-column type
    # inference, silently dropping leading zeros from directory names.
    return df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "_sig", F.concat(F.lit("b"), signature_col(F.col(vec_col), planes))
    )


def _require_table(spark, path: str, what: str) -> None:
    """Appending to an absent table would silently create a partial
    index — how a probe ends up answering from 1% of the corpus."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        raise ValueError(f"{what} at {path!r} — build one first")


def append_lsh_signature_table(
    df: DataFrame,
    vec_col: str,
    dim: int,
    path: str,
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 42,
) -> None:
    """INCREMENTAL twin of ``build_lsh_signature_table`` (the
    ``append_ivf_table`` discipline): sign a new shard with the SAME
    (dim, n_planes, seed) hyperplane family — the geometry is fully
    reproducible, there is nothing trained to drift — and append into
    the signature partitions. append ∪ base ≡ rebuild, bit-for-bit;
    probes see the shard on their next partition listing. Raises on a
    missing table."""
    _require_table(df.sparkSession, path, "append_lsh_signature_table: no signature table")
    _signed(df, vec_col, dim, id_col, n_planes, seed).write.mode(
        "append"
    ).partitionBy("_sig").parquet(path)


def compact_lsh_signature_table(spark, path: str, id_col: str = "vec_id") -> int:
    """Rewrite each signature bucket to one file through ``compact``: every ``append_lsh_signature_table``
    lays new files into each touched bucket, so a year of shards turns
    one pruned-bucket probe into thousands of tiny file opens. Probe
    answers are bit-identical; the geometry lives in (dim, n_planes,
    seed), so there is no marker to re-commit and a crash mid-swap
    leaves a loudly-absent table. Returns files removed."""
    return compact(
        spark, path, "compact_lsh_signature_table", part_col="_sig", key=id_col
    )


def compact_ivf_table(
    spark, path: str, target_files_per_list: int = 1, id_col: str = "vec_id"
) -> int:
    """Rewrite each inverted list to ``target_files_per_list`` files
    through ``compact`` (the ``compact_ivfpq_table`` motivation). The
    ``{path}_codebook`` of a TRAINED table is untouched — compaction
    rewrites file layout, never geometry — so the probe's ranking is
    unchanged by construction. Returns files removed."""
    return compact(
        spark, path, "compact_ivf_table", part_col="centroid_id", key=id_col,
        target_files=target_files_per_list,
    )


def lsh_topk_precomputed(
    spark,
    path: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """PROBE step: compute the query's signature driver-side, read ONLY
    that partition of the signature table (partition pruning does the
    ANN candidate generation — no per-row signature computation, no
    full-corpus scan), exact-rescore the bucket."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes, seed)
    qsig = "b" + "".join(
        "1" if sum(p[i] * float(query[i]) for i in range(dim)) >= 0 else "0" for p in planes
    )
    bucket = spark.read.parquet(path).filter(F.col("_sig") == qsig)
    return cosine_topk(bucket, vec_col, query, k=k, id_col=id_col)


def _unit(vec_col: str) -> Column:
    """``vec_col`` L2-normalized (a zero vector stays zero): the
    spherical geometry trained IVF lists are assigned under."""
    nrm = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    safe = F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm)
    return F.transform(F.col(vec_col), lambda x: x.cast("double") / safe)


def build_ivf_table(
    df: DataFrame,
    vec_col: str,
    dim: int,
    path: str,
    id_col: str = "vec_id",
    n_centroids: int = 8,
    seed: int = 7,
    train_iters: int = 0,
) -> None:
    """INGEST step for IVF: assign once, write PARTITIONED BY
    centroid_id (the inverted lists ARE partitions). With
    ``train_iters > 0`` the codebook is Lloyd-trained on the corpus
    first (kmeans_lloyd) instead of the fixed hyperplane family —
    trained centroids track the actual density, giving tighter
    inverted lists and better probe recall at the same n_probe; the
    fixed family stays the default because its codebook is
    reproducible from (dim, seed) alone, with no training read."""
    if train_iters > 0:
        # SPHERICAL training: the retrieval metric is cosine, so the
        # codebook must live on the unit sphere — L2 k-means on raw
        # vectors clusters by magnitude too and MEASURABLY LOSES
        # recall vs the fixed family (0.60 vs 0.66 mean recall@10 on
        # the sf0.1 fixture before this normalization; 0.78 after).
        # Lists still store the ORIGINAL vectors for exact rescoring;
        # only the partitioning geometry is normalized.
        ndf = df.select(F.col(id_col), _unit(vec_col).alias(vec_col))
        assign, cents = kmeans_lloyd(
            ndf,
            vec_col,
            id_col,
            k=n_centroids,
            iters=train_iters,
            with_centroids=True,
        )
        assign = assign.withColumnRenamed("cluster", "centroid_id")
        # Persist the trained codebook next to the lists: the probe
        # needs the SAME centroids to rank partitions (the fixed
        # hyperplane family is reproducible from (dim, seed), a
        # trained one is not). k×dim rows — driver-sized by design.
        # Crash-safety (ADVICE r8, completing the r7 reorder for the
        # TRAINED branch): the codebook is staged at a temp path and
        # moved into place only AFTER the partitioned list overwrite
        # succeeds — a failure mid list-write can no longer leave a
        # NEW codebook beside the OLD lists (the converse of the
        # hyperplane-over-trained-lists hazard the untrained branch's
        # delayed delete fixes). The remaining window is one FS rename.
        from data_pengadaan_agent_spark.sources.catalog import local_df

        spark = df.sparkSession
        local_df(
            spark,
            [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
            "centroid_id int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{path}_codebook_tmp")
        listed = df.join(assign, id_col).select(id_col, vec_col, "centroid_id")
    else:
        # assignment is a pure projection (ivf_centroid_col) — no
        # explode/aggregate exchange and no join-back of the vectors
        # (r14; the r13 shape shuffled the corpus twice to attach a
        # 4-byte column it could compute in place, guide §2.4)
        listed = df.select(
            F.col(id_col),
            F.col(vec_col),
            ivf_centroid_col(F.col(vec_col), _hyperplanes(dim, n_centroids, seed)).alias("centroid_id"),
        )
    # The previous build stays whole until this write starts (the
    # table has no validity marker to delete first, so no
    # ``begin_build``); the static overwrite mode, pinned on the write,
    # then removes every old list — under a session default of
    # ``dynamic`` the lists the new rows miss would survive.
    (
        listed.write.option("partitionOverwriteMode", "static")
        .mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    # The previous codebook goes only now, after the lists are written
    # (ADVICE r6/r7): the probe keys its ranking geometry on the
    # codebook's presence, so a stale one would rank hyperplane lists
    # with obsolete centroids, and deleting it first would leave the
    # old trained lists of a failed rebuild without it. A trained build
    # then renames its staged codebook in.
    spark = df.sparkSession
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    dst = jvm_path(f"{path}_codebook")
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(dst, True)
    if train_iters > 0:
        tmp = jvm_path(f"{path}_codebook_tmp")
        # rename reports failure by RETURNING false (the swap_dirs
        # lesson): an unchecked failure here leaves trained lists with
        # NO codebook, and the probe's auto-detect would silently rank
        # them with hyperplane geometry — the recall collapse this
        # staging exists to prevent. Fail loud instead.
        if not fs.rename(tmp, dst):
            raise OSError(
                f"build_ivf_table: rename {path}_codebook_tmp -> "
                f"{path}_codebook failed; trained lists are in place but "
                "the codebook is uncommitted (probes would rank with the "
                "wrong geometry) — staged codebook left at the tmp path, "
                "re-run the build"
            )


def append_ivf_table(
    df: DataFrame,
    vec_col: str,
    dim: int,
    path: str,
    id_col: str = "vec_id",
    n_centroids: int = 8,
    seed: int = 7,
) -> None:
    """INCREMENTAL index maintenance: assign a NEW batch of vectors
    with the EXISTING table's geometry and append them to its
    inverted-list partitions — the daily-ingest path at 100 TB, where
    rebuilding the whole index for each arriving shard is the thing
    you must never do. Probes see appended vectors immediately (the
    partition listing is re-read per query).

    Geometry is auto-detected exactly like the probe's ranking
    (``ivf_topk_precomputed``): a persisted ``{path}_codebook`` means
    the lists were Lloyd-trained — new vectors are L2-normalized and
    assigned to the nearest trained centroid by squared L2 (the
    spherical-assignment metric the lists were ingested under, ties
    to the lower centroid id like the probe) — and the codebook is
    NOT retrained (drift between a frozen codebook and an evolving
    corpus is the operator's documented trade: re-train with
    ``build_ivf_table(train_iters>0)`` on a schedule, not per batch).
    Without a codebook the fixed hyperplane family from
    (dim, n_centroids, seed) assigns — bit-identical to a full
    rebuild, which the invariant test pins (append ∪ base ≡ rebuild).

    Appending to a path with no existing lists raises."""
    spark = df.sparkSession
    _require_table(spark, path, "append_ivf_table: no IVF table")
    from pyspark.errors import AnalysisException

    try:
        cb_rows = spark.read.parquet(f"{path}_codebook").collect()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        cb_rows = None
    if cb_rows is not None:
        # Guard the two corrupt-codebook shapes BEFORE the kernel sees
        # them (ADVICE r7): an interrupted trained build can leave an
        # EMPTY {path}_codebook directory (kmeans_assign_blas would
        # die in an opaque numpy argmin), and a codebook written at a
        # different dimensionality would assign garbage partitions.
        if not cb_rows:
            raise ValueError(
                f"append_ivf_table: codebook at {path!r}_codebook is "
                "empty — a trained build was interrupted mid-write; "
                "rebuild with build_ivf_table(train_iters>0)"
            )
        cb_dim = len(cb_rows[0]["centroid"])
        if cb_dim != dim:
            raise ValueError(
                f"append_ivf_table: codebook dim {cb_dim} != batch "
                f"dim {dim} — the new shard's vectors do not match "
                "the geometry the lists were built under"
            )
        # trained table: spherical assignment against the FROZEN
        # codebook — normalize, then the Arrow BLAS argmin-L2 kernel
        # (same metric and lowest-cid tie-break as the probe ranking;
        # the interpreted-HOF per-centroid fold is the known slow
        # path, see kmeans_assign_blas's docstring)
        assign = kmeans_assign_blas(
            df.select(F.col(id_col), _unit(vec_col).alias(vec_col)),
            [(int(r["centroid_id"]), list(r["centroid"])) for r in cb_rows],
            vec_col=vec_col,
            id_col=id_col,
        ).select(id_col, F.col("cluster").alias("centroid_id"))
        listed = df.join(assign, id_col).select(id_col, vec_col, "centroid_id")
    else:
        # hyperplane assignment is a pure projection — no aggregate
        # exchange, no join-back (r14, same rewrite as build_ivf_table)
        listed = df.select(
            F.col(id_col),
            F.col(vec_col),
            ivf_centroid_col(F.col(vec_col), _hyperplanes(dim, n_centroids, seed)).alias("centroid_id"),
        )
    (
        listed.write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def ivf_topk_precomputed(
    spark,
    path: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_centroids: int = 8,
    n_probe: int = 2,
    seed: int = 7,
    trained: bool | None = None,
) -> DataFrame:
    """PROBE step for IVF: rank the (tiny) codebook driver-side, read
    only the n_probe nearest inverted-list partitions, exact-rescore.

    ``trained=None`` (default) AUTO-DETECTS: a table written with
    ``train_iters > 0`` persists its codebook at ``{path}_codebook``,
    and its presence selects the trained ranking — probing a trained
    table with hyperplane dots reads essentially random partitions
    and silently collapses recall, so the geometry choice must not
    rest on every caller passing a flag. Pass an explicit bool to
    override. With ``trained=True``:
    the persisted k-row codebook is read back and partitions are
    ranked by squared L2 distance to the query — the SAME metric the
    Lloyd assignment used, so the probe visits exactly the lists the
    near neighbors were ingested into (ranking a trained table with
    the fixed hyperplane dots would probe the wrong partitions). The
    fixed family ranks by dot product, matching its through-origin
    hyperplane assignment."""
    dim = len(query)
    q = [float(x) for x in query]
    if trained is None:
        from pyspark.errors import AnalysisException

        try:
            spark.read.parquet(f"{path}_codebook").schema
            trained = True
        except AnalysisException as e:
            # Only a MISSING codebook means "not trained"; a transient
            # IO/permission error on a genuinely trained table must
            # propagate, not silently fall back to hyperplane ranking
            # against trained lists (ADVICE r6).
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            trained = False
    if trained:
        # the codebook was trained on UNIT vectors (spherical) — rank
        # with the normalized query so probe geometry matches the
        # assignment geometry the lists were ingested under
        qn = sum(x * x for x in q) ** 0.5 or 1.0
        qu = [x / qn for x in q]
        cb = spark.read.parquet(f"{path}_codebook").collect()
        # dim validation (self-review r12): a shorter query would rank
        # partitions by a meaningless PREFIX distance and silently
        # collapse recall — the exact wrong-geometry failure this
        # function's auto-detect exists to prevent (append_ivf_table
        # validates the same mismatch loudly)
        if cb and len(cb[0]["centroid"]) != dim:
            raise ValueError(
                f"ivf_topk_precomputed: query dim {dim} != trained codebook "
                f"dim {len(cb[0]['centroid'])} — wrong embedder geometry"
            )
        d2 = {
            int(r["centroid_id"]): sum(
                (float(r["centroid"][i]) - qu[i]) ** 2 for i in range(dim)
            )
            for r in cb
        }
        probe = sorted(d2, key=lambda c: (d2[c], c))[:n_probe]
    else:
        cents = _hyperplanes(dim, n_centroids, seed)
        dots = [sum(c[i] * q[i] for i in range(dim)) for c in cents]
        probe = sorted(range(n_centroids), key=lambda i: (-dots[i], i))[:n_probe]
    lists = spark.read.parquet(path).filter(F.col("centroid_id").isin(probe))
    return cosine_topk(lists, vec_col, query, k=k, id_col=id_col)


# --- IVF (inverted-file partitioning) --------------------------------------


def ivf_centroid_col(vec: Column, cents: Sequence[Sequence[float]]) -> Column:
    """Nearest-centroid id (max dot product, ties to the LOWEST id) as
    a pure per-row Column expression: one _dot per centroid — the same
    per-centroid arithmetic the explode+max_by shape computed, so the
    argmax is value-identical — then array_position(dots,
    array_max(dots)) - 1, whose first-match semantics IS the
    lowest-id tie-break that max_by's strictly-greater update rule
    gave over the ascending posexplode order."""
    dots = F.array(
        *[_dot(vec, F.array(*[F.lit(float(v)) for v in c])) for c in cents]
    )
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_assignments(
    df: DataFrame,
    vec_col: str,
    dim: int,
    id_col: str = "vec_id",
    n_centroids: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Assign every vector to its nearest (max dot-product) centroid
    from a fixed deterministic codebook. Explodes n_centroids rows per
    vector (JVM-side, no shuffle), then argmax via max_by — one partial
    aggregation. At 100 TB the assignment is computed once at ingest
    and the table is written partitioned by centroid_id, so a probe
    reads only n_probe partitions (partition pruning does the ANN
    work); this operator IS that ingest step.

    Since r14 a pure PROJECTION (scan → select, zero exchanges): see
    ivf_centroid_col. The r13 shape exploded n_centroids rows per
    vector and argmax'd them back with max_by — one hash exchange for
    the aggregation, plus a second exchange in every caller that
    joined the assignment back onto the vectors (guide §2.4)."""
    cents = _hyperplanes(dim, n_centroids, seed)
    return df.select(
        F.col(id_col),
        ivf_centroid_col(F.col(vec_col), cents).alias("centroid_id"),
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_centroids: int = 8,
    n_probe: int = 2,
    seed: int = 7,
) -> DataFrame:
    """IVF probe: rank centroids against the query driver-side (the
    codebook is tiny), scan only the n_probe nearest inverted lists,
    exact-rescore survivors. Recall is tunable via n_probe; candidates
    scale with corpus/n_centroids, not corpus."""
    dim = len(query)
    cents = _hyperplanes(dim, n_centroids, seed)
    dots = [sum(c[i] * float(query[i]) for i in range(dim)) for c in cents]
    probe = sorted(range(n_centroids), key=lambda i: (-dots[i], i))[:n_probe]
    # per-row projection assignment + filter: the candidate pruning is
    # a WHERE clause on one scan — the r13 shape computed assignments
    # through an explode+max_by exchange and joined them back onto the
    # same corpus (two exchanges to express a filter, guide §2.4)
    cand = df.filter(
        ivf_centroid_col(F.col(vec_col), cents).isin([int(p) for p in probe])
    )
    return cosine_topk(cand, vec_col, query, k=k, id_col=id_col)


def retrieve_similar_keywords(
    vocab: DataFrame,
    query_text: str,
    k: int = 10,
    keyword_col: str = "keyword",
    dim: int = 64,
) -> DataFrame:
    """The reference's signature operator §2.10
    (mini_retrieve_similar_keywords, openai/list_of_tools.py:123-143,
    langchain/my_toolkit.py:413-484): embed the query, cosine-rank the
    keyword vocabulary, return top-k (keyword, similarity).

    The external embedding API (S6) is replaced by the deterministic
    hash-ngram embedder. This is the registry operator and the
    reference plan: the query embeds once driver-side and ships as a
    broadcast literal, and the vocab embeds in-plan on every call. The
    ``Engine`` facade instead embeds its vocabulary once and ranks on
    the driver (``KeywordIndex``), with the same answers."""
    from data_pengadaan_agent_spark.functions.vectors import (
        hash_ngram_embed,
        hash_ngram_embedding_col,
    )

    qvec = hash_ngram_embed(query_text, dim)
    scored = vocab.withColumn("_emb", hash_ngram_embedding_col(F.col(keyword_col), dim))
    sim = cosine_similarity_col(F.col("_emb").cast("array<double>"), qvec).alias("similarity")
    return (
        scored.select(F.col(keyword_col), sim)
        .orderBy(F.desc("similarity"), F.col(keyword_col))
        .limit(k)
    )


class KeywordIndex:
    """``retrieve_similar_keywords`` with the vocabulary side paid once,
    on its defaults (the ``keyword`` column, 64 dimensions): one Spark
    job collects every ``(keyword, hash-ngram embedding)``,
    and each query then embeds on the driver and ranks with NumPy —
    no Spark job per query (the REPOSE / streaming-similarity split:
    precompute the reference side, pay only the query side). A 1.5k ×
    64 vocabulary is 0.8 MB of float64.

    Same answers as the Spark plan, bit for bit: the embeddings are
    small integers, so the integer dot product and sum of squares are
    exact, and the score is ``dot / (norm_safe * qnorm)`` in that
    order, as ``cosine_similarity_col`` computes it (zero-norm rows
    score 0). The order is Spark's ``desc(similarity), keyword``:
    ties break on keyword ascending, NULL keyword first (it embeds to
    the zero vector, so it scores 0)."""

    def __init__(self, vocab: DataFrame) -> None:
        import numpy as np

        from data_pengadaan_agent_spark.functions.vectors import hash_ngram_embedding_col

        rows = vocab.select(
            F.col("keyword"), hash_ngram_embedding_col(F.col("keyword"), 64)
        ).collect()
        self.keywords = [r[0] for r in rows]
        self.emb = np.array([r[1] for r in rows], dtype=np.int64).reshape(len(rows), 64)
        norms = np.sqrt((self.emb * self.emb).sum(axis=1).astype(np.float64))
        self.norm_safe = np.where(norms == 0.0, 1.0, norms)

    def top_k(self, query_text: str, k: int = 10) -> list[dict]:
        """The top ``k`` keywords; a negative ``k`` raises, as Spark's
        ``limit`` rejects it."""
        import numpy as np

        from data_pengadaan_agent_spark.functions.vectors import hash_ngram_embed

        if k < 0:
            raise ValueError(f"top-k must be non-negative, got {k}")
        qvec = hash_ngram_embed(query_text, 64)
        dot = (self.emb @ np.array(qvec, dtype=np.int64)).astype(np.float64)
        sim = dot / (self.norm_safe * _qnorm(qvec))
        kw = self.keywords
        order = sorted(
            range(len(kw)), key=lambda i: (-sim[i], kw[i] is not None, kw[i] or "")
        )
        return [{"keyword": kw[i], "similarity": float(sim[i])} for i in order[:k]]


# --- Lloyd k-means (centroid training for the IVF index) --------------------


def kmeans_assign_blas(
    df: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_dist: bool = False,
) -> DataFrame:
    """Arrow-batched k-means assignment: one (batch×dim)@(dim×k)
    matmul per batch computes every squared distance at once via
    ‖a−c‖² = ‖a‖² − 2a·c + ‖c‖², then argmin with ties to the
    lowest cid. An expression version compiles a k×dim
    literal codebook into one giant interpreted expression (~15 s of
    analysis/codegen at k=4, dim=64 — per NEW codebook, so every
    Lloyd iteration pays it); this kernel is plan-size-constant.
    Distance drift vs the sequential fold is ~1e-13 — assignment
    flips need a near-exact distance tie, which the fixtures (and any
    real embedding corpus) sit orders of magnitude away from."""
    import numpy as np

    cids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
    cmat = np.array([list(map(float, v)) for _, v in centroids], dtype=np.float64)
    order = np.argsort(cids)
    cids, cmat = cids[order], cmat[order]
    cnorm = (cmat * cmat).sum(axis=1)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = (m * m).sum(axis=1, keepdims=True) - 2.0 * (m @ cmat.T) + cnorm
            # argmin with ties to the LOWEST cid: cids are emitted in
            # ascending order, and np.argmin returns the first minimum
            amin = np.argmin(d, axis=1)
            best = cids[amin]
            out = {id_col: pdf[id_col], vec_col: list(m), "cluster": best}
            if with_dist:
                # recompute the winning distance in the UNfactored
                # form sum((v-c)^2) — same expression the SQL twin
                # evaluates; residual drift is summation-order only
                # (~1e-13), absorbed by the output-edge rounding
                diff = m - cmat[amin]
                out["dist2"] = (diff * diff).sum(axis=1)
            yield pd.DataFrame(out)

    schema = f"{id_col} long, {vec_col} array<double>, cluster int"
    if with_dist:
        schema += ", dist2 double"
    return df.select(id_col, vec_col).mapInPandas(run, schema=schema)


def mmr_diversify(
    df: DataFrame,
    query: Sequence[float],
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance top-k (Carbonell & Goldstein 1998):
    retrieval that trades pure relevance for DIVERSITY — the
    few-shot-example / RAG-context selection rule where k near-
    duplicate best matches are worth less than k distinct ones.
    Pick 1 = argmax relevance; pick i>1 = argmax over the remaining
    pool of

        mmr = round(λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), dp)

    (ties → lowest id; pick 1's reported score is its relevance).

    Two phases, the ``mine_hard_negatives`` discipline throughout
    (every ranking decision happens on values rounded to ``round_dp``
    first, so an oracle replaying the arithmetic is bit-exact and
    BLAS float drift ~1e-13 is absorbed away from rounding edges):

      1. DISTRIBUTED pool cut: one corpus scan through a BLAS Arrow
         kernel scores rounded cosine relevance; TakeOrdered keeps
         the top-``pool`` rows (never a full sort).
      2. POOL-BOUNDED greedy: the sequential argmax chain is
         inherently iterative, but it only ever sees ``pool`` rows —
         ONE single-partition Arrow task computes the pool×pool sim
         matrix and walks k picks. At 100 TB the corpus cost is
         phase 1's scan; phase 2 is O(pool²·k) floats on one core by
         construction (raise ``pool``, not the phase-2 architecture,
         if recall needs it — the pool stays parameter-bounded).

    The DuckDB twin unrolls the k greedy steps as a CTE chain (the
    kmeans-unroll precedent) over the same rounded values."""
    import numpy as np

    dp = int(round_dp)
    q = np.asarray(list(query), dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nv = np.linalg.norm(m, axis=1)
            rel = np.round((m @ q) / (np.where(nv == 0.0, 1.0, nv) * qn), dp)
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: list(m), "rel": rel}
            )

    from data_pengadaan_agent_spark.sources.catalog import spread

    pooled = (
        spread(df.select(id_col, vec_col), id_col)
        .mapInPandas(
            score, schema=f"{id_col} long, {vec_col} array<double>, rel double"
        )
        .orderBy(F.desc("rel"), F.col(id_col))
        .limit(int(pool))
    )

    lam_f, one_m = float(lam), 1.0 - float(lam)
    kk = int(k)

    def greedy(batches):
        import pandas as pd

        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        order = np.lexsort((pdf[id_col].to_numpy(), -pdf["rel"].to_numpy()))
        ids = pdf[id_col].to_numpy()[order]
        rel = pdf["rel"].to_numpy()[order]
        m = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        nv = np.linalg.norm(m, axis=1)
        nv = np.where(nv == 0.0, 1.0, nv)
        sims = np.round((m / nv[:, None]) @ (m / nv[:, None]).T, dp)
        n = len(ids)
        taken = np.zeros(n, dtype=bool)
        out = []
        for rank in range(1, min(kk, n) + 1):
            if rank == 1:
                scores = rel.copy()
            else:
                maxsim = sims[:, taken].max(axis=1)
                scores = np.round(lam_f * rel - one_m * maxsim, dp)
            scores[taken] = -np.inf
            # argmax with ties to the LOWEST id: rows are sorted by
            # (rel desc, id asc) but mmr scores reorder, so pick via
            # lexsort on (-score, id)
            cand = np.lexsort((ids, -scores))[0]
            taken[cand] = True
            out.append(
                (rank, int(ids[cand]), float(rel[cand]), float(scores[cand]))
            )
        yield pd.DataFrame(
            out, columns=["rank", id_col, "relevance", "mmr_score"]
        )

    return pooled.coalesce(1).mapInPandas(
        greedy,
        schema=f"rank int, {id_col} long, relevance double, mmr_score double",
    )


def ivf_drift_report(
    df: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cos_floor: float = 0.2,
    skew_ceiling: float = 2.0,
    round_dp: int = 6,
) -> DataFrame:
    """Codebook drift monitor — the missing control loop around the
    frozen-codebook trade that ``append_ivf_table`` documents: daily
    shards append under yesterday's geometry, and THIS op answers
    "has the corpus drifted far enough that the codebook must be
    retrained?" Per centroid it reports occupancy and mean assignment
    cosine over the CURRENT corpus (base ∪ appended shards):

      * ``mean_cos`` falling  → vectors land far from every centroid
        (the corpus moved; inverted lists are loosening and probe
        recall is silently decaying);
      * ``occupancy_ratio`` ≫ 1 → one list absorbs the new corpus
        (skew; probes over-read that partition).

    ``retrain`` flags a centroid when either crosses its threshold —
    the scheduled-retrain trigger the append docstring defers to.

    Cross-engine determinism: per-vector cosine is rounded to
    ``round_dp`` at the kernel edge, summed exactly as DECIMAL(18,6),
    and ``mean_cos`` is one double division — the
    ``mine_hard_negatives`` discipline (BLAS-vs-fold float drift
    ~1e-13 only matters within 0.5e-6 of a rounding edge, which
    organic cosines sit far from). Assignment ties break to the
    lowest centroid id exactly like ``kmeans_assign_blas``.

    Every centroid appears in the report, including DEAD ones (zero
    assigned vectors): an empty inverted list is itself drift
    evidence — the corpus abandoned that region — so it reports
    n_vecs=0, NULL mean_cos, occupancy 0, retrain=true. A monitor
    that only reported occupied clusters would hide exactly the
    centroids most in need of a retrain.

    Scale shape: ONE corpus scan through a plan-size-constant Arrow
    kernel (k×dim codebook shipped in the closure — parameter-sized,
    never corpus-sized), collapsing map-side to ≤k (cluster, count,
    sum) partials before the only exchange; the k-row report then
    joins a 1-row broadcast total and a k-row literal centroid frame.
    Zero corpus-sized shuffles, no join against the index itself —
    the monitor never touches the inverted lists."""
    import numpy as np

    if not centroids:
        raise ValueError("ivf_drift_report: empty centroid list")
    dp = int(round_dp)
    cids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
    cmat = np.array([list(map(float, v)) for _, v in centroids], dtype=np.float64)
    if len(set(cids.tolist())) != len(cids):
        raise ValueError("ivf_drift_report: duplicate centroid ids")
    order = np.argsort(cids)
    cids, cmat = cids[order], cmat[order]
    cnorm2 = (cmat * cmat).sum(axis=1)
    cnorm = np.sqrt(cnorm2)
    k = len(cids)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if m.shape[1] != cmat.shape[1]:
                raise ValueError(
                    f"ivf_drift_report: vector dim {m.shape[1]} != "
                    f"codebook dim {cmat.shape[1]}"
                )
            dots = m @ cmat.T
            # round the distance BEFORE the argmin (ADVICE r8): the
            # kernel's expanded form |v|^2 - 2v.c + |c|^2 and the SQL
            # twin's direct sum((v-c)^2) drift ~1e-13 apart, so a
            # near-tie between two centroids could assign differently
            # across engines; rounding collapses the drift into exact
            # ties, which argmin then breaks to the LOWEST centroid id
            # on both sides (cids are sorted; argmin takes the first).
            d = np.round(
                (m * m).sum(axis=1, keepdims=True) - 2.0 * dots + cnorm2, dp
            )
            amin = np.argmin(d, axis=1)
            rows = np.arange(len(m))
            vn = np.sqrt((m * m).sum(axis=1))
            denom = np.where(vn == 0.0, 1.0, vn) * np.where(
                cnorm[amin] == 0.0, 1.0, cnorm[amin]
            )
            cos = np.round(dots[rows, amin] / denom, dp)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cluster": cids[amin], "cos": cos}
            )

    from data_pengadaan_agent_spark.sources.catalog import spread

    assigned = spread(df.select(id_col, vec_col), id_col).mapInPandas(
        run, schema=f"{id_col} long, cluster bigint, cos double"
    )
    # materialize the ≤k-row aggregate ONCE: it is consumed by the
    # total broadcast AND the report join. Without the barrier the
    # corpus-sized Arrow kernel appears under both consumers and only
    # an AQE ReusedExchange (a runtime choice, not a plan guarantee)
    # keeps it from executing twice; the k-row checkpoint makes the
    # one-pass property structural (r14, guide §1.2)
    per = (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.col("cos").cast("decimal(18,6)")).alias("_cs"),
        )
        .localCheckpoint(eager=True)
    )
    total = per.agg(
        F.coalesce(F.sum("n_vecs"), F.lit(0)).cast("bigint").alias("_n")
    )
    # k-row literal frame: dead centroids (no assigned vectors) must
    # still appear in the report — see docstring
    from data_pengadaan_agent_spark.sources.catalog import local_df

    cent = local_df(
        df.sparkSession, [(int(c),) for c in cids], "centroid_id bigint"
    )
    return (
        cent.join(
            per.withColumnRenamed("cluster", "centroid_id"), "centroid_id", "left"
        )
        .crossJoin(F.broadcast(total))
        .select(
            "centroid_id",
            F.coalesce(F.col("n_vecs"), F.lit(0)).cast("bigint").alias("n_vecs"),
            (F.col("_cs").cast("double") / F.col("n_vecs").cast("double")).alias(
                "mean_cos"
            ),
            F.when(F.col("_n") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("n_vecs"), F.lit(0)).cast("double")
                * F.lit(float(k))
                / F.col("_n").cast("double")
            )
            .alias("occupancy_ratio"),
        )
        .withColumn(
            "retrain",
            (F.col("n_vecs") == 0)
            | (F.col("mean_cos") < F.lit(float(cos_floor)))
            | (F.col("occupancy_ratio") > F.lit(float(skew_ceiling))),
        )
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    with_dist: bool = False,
    keep_vec: bool = False,
    with_centroids: bool = False,
) -> DataFrame:
    """Lloyd's k-means as a distributed DataFrame loop — the centroid
    TRAINING step in front of build_ivf_table(train_iters>0), whose
    trained codebook gives tighter inverted lists and better probe
    recall than the fixed hyperplane family (``with_centroids=True``
    also returns the k×dim codebook so callers can persist it for the
    probe side). Fully deterministic so an unrolled
    SQL twin can value-check it: init = the k lowest-id vectors,
    assignment ties break to the lowest centroid id.

    Per iteration the cluster-update is ONE shuffle of (cluster, dim,
    partial-sum) rows — posexplode puts k·dim·n rows on the mappers
    but partial aggregation collapses them to k·dim per task before
    the exchange; the driver holds only the k×dim codebook between
    iterations (same driver-only-aggregates discipline as
    dedup_clusters' convergence counts). Assignment is shuffle-free
    (kmeans_assign_blas). Returns (id, cluster) after ``iters``
    rounds."""
    from data_pengadaan_agent_spark.sources.catalog import spread

    df = spread(df, id_col)
    # init = the k LOWEST-id vectors, as documented — not filter(id < k),
    # which required ids to literally start at 0 and stay dense below k
    # and broke every auto-k caller on 1-based or sparse ids
    # (self-review r12). orderBy+limit is equally deterministic and
    # identical on dense 0-based ids (the oracle-twin fixtures).
    init = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.asc(id_col))
        .limit(int(k))
        .collect()
    )
    cents = sorted(
        (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in init
    )
    if len(cents) < k:
        raise ValueError(
            f"kmeans_lloyd: k={k} exceeds the {len(cents)} row(s) in the input"
        )
    assigned = None
    for it in range(iters):
        last = it == iters - 1
        assigned = kmeans_assign_blas(
            df, cents, vec_col, id_col, with_dist=with_dist and last
        )
        if last:
            break
        vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        means = (
            assigned.select("cluster", F.posexplode(vec).alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.avg("v").alias("m"))
        )
        rows = (
            means.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .collect()
        )
        cents = sorted(
            (int(r["cluster"]), [float(x["m"]) for x in r["dm"]]) for r in rows
        )
    out_cols = [F.col(id_col), F.col("cluster")]
    if keep_vec:
        out_cols.insert(1, F.col(vec_col))
    if with_dist:
        out_cols.append(F.col("dist2"))
    out = assigned.select(*out_cols)
    if with_centroids:
        # the codebook the FINAL assignment used — k×dim, driver-sized
        return out, cents
    return out


def hybrid_retrieval_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_terms,
    query_vec,
    k: int = 10,
    k_each: int = 50,
    k0: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    (Cormack & Clarke, SIGIR 2009): score(d) = Σ_lists 1/(k0+rank_d).
    The lexical list ranks documents by query-term match count; the
    vector list is brute cosine top-k (swap in the LSH/IVF probes at
    scale — any ranked list fuses the same way).

    Scale shape: each list is an independent distributed
    TakeOrderedAndProject capped at ``k_each`` BEFORE ranks are
    assigned, so the single-partition rank windows run over ≤k_each
    rows — bounded by the parameter, never by the corpus — and the
    fusion itself is a full-outer join of two ≤k_each-row frames."""
    from pyspark.sql import Window

    from data_pengadaan_agent_spark.operators.textan import tokens

    terms = F.array(*[F.lit(t) for t in query_terms])
    matches = F.size(F.array_intersect(F.array_distinct(tokens(text_col)), terms))
    kw_top = (
        docs.select(F.col(id_col), matches.alias("kw_matches"))
        .filter(F.col("kw_matches") > 0)
        .orderBy(F.desc("kw_matches"), F.col(id_col))
        .limit(k_each)
    )
    kw_ranked = kw_top.withColumn(
        "kw_rank",
        F.row_number().over(Window.orderBy(F.desc("kw_matches"), F.col(id_col))),
    )
    vec_top = cosine_topk(emb, vec_col, query_vec, k=k_each, id_col=vec_id_col)
    vec_ranked = vec_top.withColumn(
        "vec_rank",
        F.row_number().over(Window.orderBy(F.desc("similarity"), F.col(vec_id_col))),
    ).select(F.col(vec_id_col).alias(id_col), "vec_rank")
    fused = kw_ranked.join(vec_ranked, id_col, "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(k0) + F.col("kw_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("vec_rank")), F.lit(0.0))
    return (
        fused.select(
            F.col(id_col),
            F.coalesce("kw_matches", F.lit(0)).cast("bigint").alias("kw_matches"),
            F.col("kw_rank").cast("bigint").alias("kw_rank"),
            F.col("vec_rank").cast("bigint").alias("vec_rank"),
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )


def prototypicality(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    hard_frac: float = 0.1,
) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022,
    "Beyond neural scaling laws": rank examples by distance to their
    cluster prototype; the far tail is the "hard" subset worth keeping
    when data is abundant, the near-prototype mass is the redundant
    bulk). Emits per vector its cluster, squared distance to the
    trained centroid, the farthest-first rank inside the cluster, and
    an ``is_hard`` flag for the top ``hard_frac`` of each cluster.

    Scale shape: k-means training is the existing kmeans_lloyd loop
    (per iteration one (cluster, dim) partial-aggregated exchange);
    the final assignment is an Arrow-batched mapper pass that also
    emits the distance; ranking costs ONE window exchange on the
    cluster key. Nothing is ever collected but the k×dim codebook."""
    assigned = kmeans_lloyd(
        df, vec_col, id_col, k=k, iters=iters, with_dist=True
    )
    # Rank on dist2 ROUNDED to the emitted precision (ADVICE r5): the
    # Spark kernel (factored BLAS sums) and any SQL twin (sequential
    # fold) can disagree in the last ulps of dist2, and an unrounded
    # ORDER BY would let near-ties swap rank_far/is_hard cross-engine
    # even though the emitted dist2 values agree. vec_id stays the
    # deterministic tie-break.
    w = Window.partitionBy("cluster").orderBy(
        F.desc(F.round("dist2", 6)), F.col(id_col)
    )
    cw = Window.partitionBy("cluster")
    return (
        assigned.withColumn("rank_far", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(cw))
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.round(F.col("dist2"), 6).alias("dist2"),
            F.col("rank_far").cast("int").alias("rank_far"),
            (
                F.col("rank_far")
                <= F.ceil(F.col("_n") * F.lit(float(hard_frac)))
            ).alias("is_hard"),
        )
    )


def semdedup_prune(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.9,
    cluster_cap: int = 4096,
    target_cluster_size: int = 512,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication in
    embedding space — cluster the corpus with k-means, then inside
    each cluster drop every vector whose cosine similarity to ANY
    lower-id cluster member exceeds ``threshold`` (deterministic;
    note this compares against all lower-id members, kept or pruned,
    so it is a SUPERSET of strict greedy keep-first pruning: a
    transitive chain a~b~c with a≁c drops both b and c, where strict
    greedy would keep c. That relaxation is what keeps the kernel one
    matmul — strict greedy is a sequential dependence — and it is
    exactly what the SQL oracle twin computes). Near-duplicate
    *meanings* — paraphrases, template re-renders — that lexical
    MinHash/SimHash cannot see.

    Scale shape: the pairwise comparison is confined WITHIN clusters —
    that is SemDeDup's design point: k grows with the corpus so
    expected cluster size stays bounded, turning an O(N²) corpus
    problem into Σ O(|c|²) with |c| ≈ N/k. The whole operator is ONE
    exchange on the cluster key feeding a per-cluster Arrow kernel:
    each cluster's similarity matrix is a single normalized matmul
    (BLAS), and the keep-lowest-id flags fall out of its upper
    triangle — no pair rows ever materialize in the engine. (A first
    cut expressed the pairs as a self equi-join with an interpreted
    fold per pair: 6.7 s at sf0.1 vs ~1 s for this form, and the join
    shuffled |pairs| rows where this shuffles |vectors|.)

    The kernel's failure mode is CLUSTER SKEW: applyInPandas runs
    each cluster on ONE task, so a mega-cluster serializes its whole
    O(|c|²·d) Gram work (and O(|c|²) memory) onto one core —
    measured ~9× slower when an untrained codebook put a third of a
    32k-vector corpus into one cluster (a pair self-join degrades
    more gracefully there, because pair rows redistribute across the
    shuffle — but it is strictly worse when clusters are bounded).
    Bounded cluster size is therefore the operator's contract — and
    since round 6 the contract is ENFORCED IN CODE, not prose:

    * ``k=None`` (the DEFAULT — callers opt IN to a fixed k, not out
      of the guard) auto-derives k ≈ N / ``target_cluster_size`` (the
      paper's own rule — k grows with the corpus; the driver still
      only ever holds the k×dim codebook, SemDeDup's published regime
      up to k≈50k×d; past that, raise ``target_cluster_size``).
    * A ≤k-row cluster-size probe runs after assignment; any cluster
      larger than ``cluster_cap`` is diverted to a BLOCKED kernel:
      members are split into contiguous id-ordered blocks of
      ≤``cluster_cap`` rows (one extra window exchange), each block
      pair (lo ≤ hi) becomes one applyInPandas group computing the
      cross-block cosine hits, and per-id flags are OR-combined. Work
      is the same O(|c|²·d) but spread over |c|²/cap² tasks with
      O(cap²) memory each — the mega-cluster stops concentrating on
      one core, and the untrained-codebook construction that measured
      26 s at ×16 drops back to the trained-codebook family. Clusters
      within the cap keep the exact single-matmul plan (zero change
      to the happy path besides the probe job). Honest cost note: the
      blocked path replicates each over-cap row to ~B = |c|/cap block
      groups, i.e. exchanges O(|c|²/cap) rows — graceful degradation
      for moderately-over-cap clusters, not a license for unbounded
      ones; auto-k (above) is what keeps B small.
    """
    import numpy as np

    if k is None:
        n_vecs = df.count()
        k = max(2, math.ceil(n_vecs / max(1, int(target_cluster_size))))
    assigned = kmeans_lloyd(
        df, vec_col, id_col, k=k, iters=iters, keep_vec=True
    )
    thr = float(threshold)
    cap = max(2, int(cluster_cap))

    def _norm(block: "np.ndarray") -> "np.ndarray":
        nrm = np.sqrt((block * block).sum(axis=1))
        nrm[nrm == 0.0] = 1.0  # zero vectors: sim 0 to everything
        return block / nrm[:, None]

    def prune(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        u = _norm(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        g = u @ u.T
        # j is pruned when ANY lower-id i has cos(i, j) >= threshold:
        # strict upper triangle of the hit matrix, OR'd down columns
        pruned = np.triu(g >= thr, 1).any(axis=0)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "pruned": pruned,
            }
        )

    out_schema = f"{id_col} long, cluster int, pruned boolean"

    # Materialize the assignment BEFORE the cluster-size probe: the
    # probe's collect() executes the full k-means assignment lineage,
    # and downstream consumption (happy path) or the over-cap split
    # (guard path) would otherwise execute it a second time — the
    # final Arrow assignment pass over the whole corpus ran twice on
    # EVERY call (ADVICE r6). DISK_ONLY because the frame carries the
    # vectors (keep_vec) and is corpus-proportional — the
    # no-corpus-scale-memory-pins house rule.
    from pyspark import StorageLevel

    assigned = assigned.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )

    # ---- bounded-cluster guard: ≤k-row probe (driver-only aggregate,
    # the dedup_clusters discipline) ----
    over = [
        int(r["cluster"])
        for r in assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .collect()
    ]
    if not over:
        return assigned.groupBy("cluster").applyInPandas(
            prune, schema=out_schema
        )

    # Over-cap clusters exist: split the materialized assignment and
    # give the big clusters the blocked kernel.
    small = assigned.filter(~F.col("cluster").isin(over))
    big = assigned.filter(F.col("cluster").isin(over))
    small_out = small.groupBy("cluster").applyInPandas(prune, schema=out_schema)

    w = Window.partitionBy("cluster").orderBy(id_col)
    big = big.withColumn(
        "_blk", F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(cap)).cast("int")
    )
    maxblk = big.groupBy("cluster").agg(F.max("_blk").alias("_maxblk"))
    # ≤|over| rows — genuinely tiny, broadcast explicitly (the house
    # rule bans PLANNER-chosen broadcasts of Arrow-derived frames, not
    # known-k-row aggregates broadcast by hand)
    big = big.join(F.broadcast(maxblk), "cluster")
    # Each row joins every block-pair group it participates in: as
    # SOURCE for (its block, hi≥blk), as TARGET for (lo<blk, its
    # block); the diagonal group (blk, blk) covers within-block pairs.
    as_source = F.transform(
        F.sequence(F.col("_blk"), F.col("_maxblk")),
        lambda h: F.struct(F.col("_blk").alias("lo"), h.alias("hi")),
    )
    as_target = F.when(
        F.col("_blk") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("_blk") - 1),
            lambda lo: F.struct(lo.alias("lo"), F.col("_blk").alias("hi")),
        ),
    ).otherwise(F.array().cast("array<struct<lo:int,hi:int>>"))
    pairs = big.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cluster"),
        F.col("_blk"),
        F.explode(F.concat(as_source, as_target)).alias("_g"),
    ).select(
        id_col, vec_col, "cluster", "_blk",
        F.col("_g.lo").alias("_lo"), F.col("_g.hi").alias("_hi"),
    )

    def prune_block(pdf):
        import pandas as pd

        lo = int(pdf["_lo"].iat[0])
        hi = int(pdf["_hi"].iat[0])
        tgt = (
            pdf[pdf["_blk"] == hi]
            .sort_values(id_col, kind="mergesort")
            .reset_index(drop=True)
        )
        u_t = _norm(np.stack(tgt[vec_col].to_numpy()).astype(np.float64))
        if lo == hi:
            g = u_t @ u_t.T
            pruned = np.triu(g >= thr, 1).any(axis=0)
        else:
            src = pdf[pdf["_blk"] == lo]
            u_s = _norm(np.stack(src[vec_col].to_numpy()).astype(np.float64))
            # blocks are contiguous in id order: every source id is
            # strictly below every target id, so any hit prunes
            pruned = ((u_s @ u_t.T) >= thr).any(axis=0)
        return pd.DataFrame(
            {
                id_col: tgt[id_col],
                "cluster": tgt["cluster"],
                "pruned": pruned,
            }
        )

    big_out = (
        pairs.groupBy("cluster", "_lo", "_hi")
        .applyInPandas(prune_block, schema=out_schema)
        .groupBy(id_col, "cluster")
        .agg(F.max("pruned").alias("pruned"))
        .select(id_col, "cluster", "pruned")
    )
    return small_out.unionByName(big_out)


def semdedup_prune_greedy(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.9,
    target_cluster_size: int = 512,
) -> DataFrame:
    """Strict greedy keep-first SemDeDup: walk each cluster in id
    order and prune a vector only when it is ``threshold``-similar to
    an already-KEPT member (``semdedup_prune`` relaxes this to "any
    lower-id member", over-pruning transitive chains a~b~c with a≁c —
    this variant keeps c). The walk is inherently sequential per
    cluster, so the kernel loops over members; each step is one
    kept-matrix · vector product against a PREALLOCATED kept buffer
    (no per-step restacking), so cost is O(|c|·|kept|·d) BLAS work
    and O(|c|·d) memory per cluster — unlike the relaxed kernel there
    is no O(|c|²) Gram matrix, so a large cluster degrades in time
    only, never memory. Same exchange shape as semdedup_prune: one
    shuffle on the cluster key. ``k=None`` auto-derives
    k ≈ N / ``target_cluster_size`` like the relaxed form; there is
    no blocked fallback because the walk's sequential dependence
    cannot split across tasks — bounded clusters via k are this
    variant's scale contract.

    Registered as a driver entry in round 6 (VERDICT r5 ask #4): the
    oracle twin replays the walk as a DuckDB RECURSIVE CTE over the
    SPARSE threshold-pair graph (nodes untouched by any pair are kept
    without entering the recursion), so the sequential semantics —
    including transitive-chain divergence from the relaxed form — are
    value-checked, not just row-counted."""
    import numpy as np

    if k is None:
        n_vecs = df.count()
        k = max(2, math.ceil(n_vecs / max(1, int(target_cluster_size))))
    assigned = kmeans_lloyd(
        df, vec_col, id_col, k=k, iters=iters, keep_vec=True
    )
    thr = float(threshold)

    def prune(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.sqrt((m * m).sum(axis=1))
        nrm[nrm == 0.0] = 1.0
        u = m / nrm[:, None]
        pruned = np.zeros(len(pdf), dtype=bool)
        kept = np.empty_like(u)
        n_kept = 0
        for j in range(len(pdf)):
            if n_kept and (kept[:n_kept] @ u[j] >= thr).any():
                pruned[j] = True
            else:
                kept[n_kept] = u[j]
                n_kept += 1
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "pruned": pruned,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        prune, schema=f"{id_col} long, cluster int, pruned boolean"
    )


def decontaminate_semantic(
    train_df: DataFrame,
    bench_df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    id_col: str = "vec_id",
    threshold: float = 0.9,
    bands: int = 8,
    planes_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SEMANTIC decontamination: flag training documents whose
    embedding is ``threshold``-cosine-similar to ANY benchmark/eval
    document — the paraphrased-benchmark-leakage gate that lexical
    n-gram overlap (``decontaminate_train``) cannot see. Returns one
    verdict row per training doc: (id, n_bench_matches, max_sim,
    contaminated).

    Scale shape — bucketed, never all-pairs (the cosine_pairs_lsh
    discipline): both corpora get banded hyperplane signatures from
    the SAME codebook (one Arrow/BLAS pass each), candidates are a
    (band, sig) equi-join of train × bench signature frames (only
    high-cosine pairs collide: at b=8 × r=8 an s=0.9 pair is caught
    ~99%, an unrelated pair ~3%), and the exact cosine verify runs
    per candidate pair. The verdict is a left join of the train ids
    onto the per-id match aggregate, so unflagged docs get an
    explicit contaminated=false row (no silent exclusion — the
    dsir_importance contract lesson). Every join in the signature/
    candidate region is pinned shuffle_hash: those frames are
    Arrow-kernel-derived and corpus-proportional, and the planner's
    size estimates for them are garbage (house rule).

    The benchmark side is usually tiny (eval suites, not corpora) —
    its signature frame and the verdict aggregate are both
    |bench|-bounded; if bench is known-small, broadcast semantics
    come free via AQE's runtime re-plan of the pinned shuffle join.

    Ref parity: extends reference my_toolkit.py's keyword-filter
    hygiene (my_toolkit.py:1) with the embedding-space gate a
    pretraining pipeline needs; see Lee et al. 2022 (dedup) and the
    GPT-3/PaLM decontamination appendices for the n-gram form this
    complements.
    """
    id_type = train_df.schema[id_col].dataType.simpleString()
    t_sig = banded_signatures_blas(
        train_df, vec_col, dim, id_col, bands, planes_per_band, seed
    ).select(F.col(id_col).alias("_tid"), "band", "sig")
    b_sig = banded_signatures_blas(
        bench_df, vec_col, dim, id_col, bands, planes_per_band, seed
    ).select(F.col(id_col).alias("_bid"), "band", "sig")
    cand = (
        t_sig.hint("shuffle_hash")
        .join(b_sig, ["band", "sig"])
        .select("_tid", "_bid")
        .distinct()
    )
    left = train_df.select(F.col(id_col).alias("_tid"), F.col(vec_col).alias("va"))
    right = bench_df.select(F.col(id_col).alias("_bid"), F.col(vec_col).alias("vb"))
    paired = (
        cand.hint("shuffle_hash")
        .join(left, "_tid")
        .hint("shuffle_hash")
        .join(right, "_bid")
    )

    import numpy as np

    thr = float(threshold)

    def verify(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_m = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            b_m = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            na = np.linalg.norm(a_m, axis=1)
            nb = np.linalg.norm(b_m, axis=1)
            na[na == 0.0] = 1.0
            nb[nb == 0.0] = 1.0
            sims = np.einsum("ij,ij->i", a_m, b_m) / (na * nb)
            out = pd.DataFrame({"_tid": pdf["_tid"], "sim": sims})
            yield out[out["sim"] >= thr]

    hits = (
        paired.mapInPandas(verify, schema=f"_tid {id_type}, sim double")
        .groupBy("_tid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bench_matches"),
            F.max("sim").alias("_max"),
        )
    )
    ids = train_df.select(F.col(id_col))
    return (
        ids.hint("shuffle_hash")
        .join(hits, ids[id_col] == hits["_tid"], "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bench_matches", F.lit(0).cast("bigint")).alias(
                "n_bench_matches"
            ),
            F.round("_max", 4).alias("max_sim"),
            F.col("_tid").isNotNull().alias("contaminated"),
        )
    )


def mine_hard_negatives(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    gold_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    qid_col: str = "vec_id",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training data: for
    every query vector, the ``k`` most-cosine-similar corpus documents
    EXCLUDING its labeled positives (``gold_df``: fixed-name columns
    ``qid``/``gold_id``, one row per labeled positive pair) —
    the standard contrastive-training step (DPR/Contriever style)
    where "documents the current embedding space confuses with the
    answer" become the negatives for the next round. Returns one row
    per (query, negative): (qid, neg_id, sim, rank), rank 1 = hardest.

    Scale shape: the QUERY matrix and the gold pair set are
    query-batch-bounded (a training batch, not a corpus) and are
    broadcast into an Arrow kernel via closure — the same budget as
    any broadcast dimension table; shard ``queries_df`` and union the
    outputs if the batch outgrows it. The corpus streams through ONE
    scan (spread() for parallelism): each partition computes
    (queries × batch) cosines as a single float64 matmul, masks that
    query's gold ids, keeps a per-partition running top-k per query,
    and emits ≤ |queries|·k rows at partition end — so the only
    exchange carries partitions × |queries| × k candidate rows, never
    a corpus-sized frame. A final per-qid window keeps the global
    top-k. Exclusion happens BEFORE the local top-k, so a gold doc
    can never crowd a true negative out of a partition's candidates.

    Cross-engine determinism (the ann/bm25 discipline): similarities
    are rounded to ``round_dp`` BEFORE every ranking decision — the
    kernel's local top-k and the final window both order by
    (rounded sim DESC, id ASC) — so a DuckDB twin replaying the same
    rounded ordering is bit-exact; BLAS-vs-sequential float drift
    (~1e-13) only matters within 0.5e-{round_dp} of a rounding
    boundary (fixture margins verified at every SF). Self-pairs are
    NOT special-cased: if a query document is also in the corpus, list
    it in ``gold_df`` (it is, after all, a labeled positive).

    Ref parity: beyond-reference curation family (the reference's
    retrieval is single-query keyword similarity, my_toolkit.py:1);
    see Karpukhin et al. 2020 (DPR) for the mining step itself."""
    import numpy as np

    from data_pengadaan_agent_spark.sources.catalog import spread

    k = int(k)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    for frame, col, side in (
        (queries_df, qid_col, "queries_df"),
        (corpus_df, id_col, "corpus_df"),
    ):
        t = frame.schema[col].dataType.simpleString()
        if t not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"{side}.{col} must be an integral id (got {t}) — the "
                "gold-mask kernel vectorizes over int64 ids"
            )
    q_rows = queries_df.select(qid_col, vec_col).collect()
    if not q_rows:
        raise ValueError("queries_df is empty")
    if len({r[0] for r in q_rows}) != len(q_rows):
        # two query rows sharing a qid would interleave their
        # candidates in the final per-qid window — reject loudly
        raise ValueError(f"duplicate {qid_col} values in queries_df")
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0.0] = 1.0
    qm = qm / qn[:, None]
    gold: dict[int, set] = {}
    for r in gold_df.select("qid", "gold_id").collect():
        gold.setdefault(r[0], set()).add(r[1])
    gold_by_qi = [
        np.array(sorted(gold.get(int(q), ())), dtype=np.int64) for q in qids
    ]
    dp = int(round_dp)
    id_type = corpus_df.schema[id_col].dataType.simpleString()

    def mine(batches):
        import pandas as pd

        # running per-query top-k across this partition's batches
        acc_id = [np.empty(0, dtype=np.int64) for _ in qids]
        acc_sim = [np.empty(0, dtype=np.float64) for _ in qids]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy().astype(np.int64)
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nm = np.linalg.norm(m, axis=1)
            nm[nm == 0.0] = 1.0
            sims = np.round(qm @ (m / nm[:, None]).T, dp)
            for qi in range(len(qids)):
                row = sims[qi]
                keep = (
                    ~np.isin(ids, gold_by_qi[qi])
                    if len(gold_by_qi[qi])
                    else np.ones(len(ids), dtype=bool)
                )
                cid = np.concatenate([acc_id[qi], ids[keep]])
                csim = np.concatenate([acc_sim[qi], row[keep]])
                # order by (sim DESC, id ASC); lexsort: last key primary
                order = np.lexsort((cid, -csim))[:k]
                acc_id[qi], acc_sim[qi] = cid[order], csim[order]
        out_q = np.concatenate(
            [np.full(len(acc_id[qi]), qids[qi]) for qi in range(len(qids))]
        )
        if len(out_q):
            yield pd.DataFrame(
                {
                    "qid": out_q,
                    "neg_id": np.concatenate(acc_id),
                    "sim": np.concatenate(acc_sim),
                }
            )

    from pyspark.sql import Window

    cand = spread(corpus_df, id_col).select(id_col, vec_col).mapInPandas(
        mine, schema=f"qid long, neg_id {id_type}, sim double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neg_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neg_id", "sim", F.col("rank").cast("int").alias("rank"))
    )

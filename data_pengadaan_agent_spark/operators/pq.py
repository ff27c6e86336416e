"""Product quantization (PQ) — the compression layer of the ANN stack.

Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each d-dim vector into ``m`` contiguous
subvectors, k-means each subspace independently into ``ksub``
centroids, and store a vector as its m one-small-int code word. At
100 TB this is the operator that makes an embedding corpus FIT: a
64-dim float32 vector is 256 B, its m=8/ksub=256 PQ code is 8 B — a
32× reduction — and asymmetric distance computation (ADC) scans the
CODES, never the vectors: per query build the m×ksub lookup table of
query-subvector→centroid distances once (parameter-sized), then every
candidate's score is m table lookups and a sum. The repo's IVF family
partitions WHERE vectors live; PQ compresses WHAT is scanned — the
two compose (IVF-ADC) exactly as in the paper.

Spark shapes, chosen per stage:

- ``train_pq``: all m subspaces train TOGETHER in one Lloyd loop.
  The assignment kernel (Arrow, NumPy) emits per-batch PARTIAL
  (sub, code, dim, sum, n) rows — m·ksub·dsub per batch, collapsed
  map-side before the loop's single exchange, the kmeans_lloyd
  discipline with the posexplode blow-up removed. The driver holds
  only the m×ksub×dsub codebook between iterations. Deterministic:
  init = subvectors of the ksub lowest-id vectors; assignment
  distances are ROUNDED to ``round_dp`` (default 4dp — COARSER than
  ivf_drift's 6dp on purpose: at sf0.1 a pre-round distance measured
  2e-13 from a .5e-6 half, inside cross-engine drift; at 4dp the
  danger zone starts ~1e-10 absolute, three orders above drift, and a
  coarser grid only makes ties more common, which the lowest-code
  rule breaks identically on both engines) before the argmin
  (tools/audit_round_boundaries.py probes the pre-round margins).
- ``pq_encode``: ONE Arrow scan through a plan-size-constant kernel
  (codebook in the closure); output (id, codes array<int>).
- ``pq_adc_topk``: the LUT is fixed to exact BIGINT micro-units
  (floor(d·10^lut_dp + 0.5) — explicit HALF_UP, spelled identically
  on both engines) and embedded as ONE flat array literal, so the
  score is an exact integer sum evaluated in a pure codegen select —
  no join, no shuffle — followed by a distributed
  TakeOrderedAndProject. Ties rank by id ascending. Integer scores
  are what make the oracle twin hash-exact (the bm25 lesson: never
  hash a cross-engine float).

The DuckDB twin (__spark_entry__._pq_adc_sql) replays training,
encode, LUT and ranking from the same parameters; centroid float
drift between engines (~1e-15 summation-order) is absorbed by the
rounded assignment/LUT grids, whose fixture margins are measured, not
assumed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.sources.catalog import (
    audit_registry,
    begin_build,
    compact,
    flagged_rows,
    local_df,
    logged,
    new_rows,
    read_dir,
    spread,
)


def _check_geometry(dim: int, m: int) -> int:
    if m < 1 or dim < 1 or dim % m:
        raise ValueError(f"train_pq: dim {dim} must split into m={m} equal subspaces")
    return dim // m


def train_pq(
    df: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 4,
) -> list[list[list[float]]]:
    """Train the m×ksub PQ codebook; returns codebooks[sub][code] =
    dsub-dim centroid (driver-sized by construction: m·ksub·dsub
    floats). ``iters`` Lloyd rounds; like kmeans_lloyd, iters=1 means
    one assignment against the id-0..ksub-1 init with no update."""
    import numpy as np

    dsub = _check_geometry(dim, m)
    if ksub < 1 or iters < 1:
        raise ValueError("train_pq: ksub and iters must be >= 1")
    init = (
        df.filter(F.col(id_col) < ksub)
        .select(id_col, vec_col)
        .collect()
    )
    by_id = sorted((int(r[id_col]), [float(x) for x in r[vec_col]]) for r in init)
    # exactly ids 0..ksub-1, each once (ADVICE r10: duplicate ids below
    # ksub used to slip past a len(init) check and silently widen the
    # init codebook past ksub — training then argmin'd over phantom
    # codes the returned ksub-truncated codebook never contained; and
    # picking one of two different vectors sharing an id would be
    # collect-order nondeterministic, so duplicates raise)
    if [i for i, _ in by_id] != list(range(ksub)):
        raise ValueError(
            f"train_pq: init needs ids 0..{ksub - 1} each present exactly "
            f"once; got ids {[i for i, _ in by_id]}"
        )
    # codebooks[sub] = ksub × dsub
    cb = np.array(
        [[v[s * dsub : (s + 1) * dsub] for _, v in by_id] for s in range(m)],
        dtype=np.float64,
    )

    src = spread(df.select(id_col, vec_col), id_col)

    for _ in range(iters - 1):
        cb_now = cb.copy()

        def partials(batches, cb_now=cb_now):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                if vecs.shape[1] != dim:
                    raise ValueError(
                        f"train_pq: vector dim {vecs.shape[1]} != {dim}"
                    )
                out = []
                for s in range(m):
                    sv = vecs[:, s * dsub : (s + 1) * dsub]
                    d = np.round(
                        ((sv[:, None, :] - cb_now[s][None, :, :]) ** 2).sum(-1),
                        round_dp,
                    )
                    code = np.argmin(d, axis=1)  # first (lowest) code on ties
                    for c in range(ksub):
                        sel = sv[code == c]
                        if len(sel):
                            ssum = sel.sum(axis=0)
                            for j in range(dsub):
                                out.append((s, c, j, float(ssum[j]), len(sel)))
                yield pd.DataFrame(
                    out, columns=["sub", "code", "dim", "s", "n"]
                )

        rows = (
            src.mapInPandas(
                partials, schema="sub int, code int, dim int, s double, n long"
            )
            .groupBy("sub", "code", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        for r in rows:
            cb[r["sub"], r["code"], r["dim"]] = r["s"] / r["n"]
        # codes with zero members keep their previous centroid (the
        # standard empty-cluster rule; deterministic on both engines)
    return [[list(map(float, cb[s, c])) for c in range(ksub)] for s in range(m)]


def pq_encode(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 4,
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Encode vectors to PQ codes: (id, [passthrough...,] codes
    array<int>), one Arrow scan, codebook in the closure. Assignment =
    argmin over the ROUNDED subspace distance, ties to the lowest
    code. ``passthrough`` columns ride along through the kernel so
    callers (e.g. the IVF-PQ build, which needs the coarse list id
    beside the codes) never re-join the kernel's own input."""
    import numpy as np

    cb = np.array(codebooks, dtype=np.float64)  # m × ksub × dsub
    m, _, dsub = cb.shape
    dim = m * dsub
    extra = list(passthrough)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if vecs.shape[1] != dim:
                raise ValueError(f"pq_encode: vector dim {vecs.shape[1]} != {dim}")
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for s in range(m):
                sv = vecs[:, s * dsub : (s + 1) * dsub]
                d = np.round(
                    ((sv[:, None, :] - cb[s][None, :, :]) ** 2).sum(-1), round_dp
                )
                codes[:, s] = np.argmin(d, axis=1)
            out = {id_col: pdf[id_col]}
            for c in extra:
                out[c] = pdf[c]
            out["codes"] = list(map(list, codes))
            yield pd.DataFrame(out)

    src = spread(df.select(id_col, *extra, vec_col), id_col)
    extra_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in extra
    )
    return src.mapInPandas(
        run, schema=f"{id_col} long{extra_schema}, codes array<int>"
    )


def adc_lut(
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    lut_dp: int = 6,
) -> list[int]:
    """The query's asymmetric-distance lookup table as exact BIGINT
    micro-units: flat[sub·ksub + code] = floor(‖q_sub − centroid‖² ·
    10^lut_dp + 0.5). Parameter-sized (m·ksub ints); computed
    identically by the oracle twin so ADC scores hash-match as
    integers."""
    import numpy as np

    cb = np.array(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    q = np.array(list(map(float, query_vec)), dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(f"adc_lut: query dim {q.shape[0]} != {m * dsub}")
    import math

    out = []
    for s in range(m):
        qs = q[s * dsub : (s + 1) * dsub]
        d = ((qs[None, :] - cb[s]) ** 2).sum(-1)
        for c in range(ksub):
            # floor(x + 0.5), NOT np.round: np.round is HALF_EVEN while
            # DuckDB's round() is HALF_UP — an on-half LUT value would
            # diverge by 1 micro-unit; this rule is spelled identically
            # in the twin (floor(x*1e6 + 0.5))
            out.append(int(math.floor(d[c] * (10 ** lut_dp) + 0.5)))
    return out


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    lut_dp: int = 6,
) -> DataFrame:
    """ADC top-k over a PQ-coded corpus: score each row by m flat-LUT
    lookups summed as exact BIGINTs inside ONE codegen select (no
    join, no shuffle — the LUT is a literal array), then a distributed
    TakeOrderedAndProject caps at k. Returns (rank, id, adc_score);
    lower score = nearer. Ties rank by id ascending."""
    ksub = len(codebooks[0])
    m = len(codebooks)
    lut = adc_lut(codebooks, query_vec, lut_dp)
    flat = F.array(*[F.lit(int(v)).cast("bigint") for v in lut])
    score = None
    for s in range(m):
        term = F.element_at(flat, F.col("codes")[s] + s * ksub + 1)
        score = term if score is None else score + term
    scored = codes_df.select(
        F.col(id_col), score.cast("bigint").alias("adc_score")
    )
    top = scored.orderBy(F.asc("adc_score"), F.asc(id_col)).limit(int(k))
    from pyspark.sql import Window

    w = Window.orderBy(F.asc("adc_score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", id_col, "adc_score"
    )


# --------------------------------------------------------------------
# IVF-PQ: coarse partitioning + residual quantization (Jégou et al.
# TPAMI 2011 §III — "IVFADC"). The coarse codebook here is EXACT by
# construction: the raw vectors of ids 0..kc-1 (float32 parquet values
# widened to double — bit-identical on every engine), so the coarse
# assignment and the residual subtraction introduce no training drift
# at all; only the residual PQ codebook carries the (probed, rounded)
# mean drift. Codes are written PARTITIONED BY list, so an n_probe
# query prunes the scan with a LITERAL PartitionFilter — the IVF scan
# story composed with PQ's 30x-smaller rows.
# --------------------------------------------------------------------


def coarse_codebook(
    df: DataFrame, kc: int = 4, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[list[float]]:
    """The exact coarse quantizer: vectors of ids 0..kc-1 verbatim."""
    rows = df.filter(F.col(id_col) < kc).select(id_col, vec_col).collect()
    if len(rows) < kc:
        raise ValueError(f"coarse_codebook: init needs ids 0..{kc - 1} present")
    return [
        [float(x) for x in v]
        for _, v in sorted((int(r[id_col]), r[vec_col]) for r in rows)
    ]


def ivfpq_residuals(
    df: DataFrame,
    coarse: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 4,
) -> DataFrame:
    """Coarse-assign and subtract in ONE Arrow pass: (id, list, resid).
    Assignment = argmin over the ROUNDED distance to the coarse
    codebook, ties to the lowest list (the pq_encode discipline);
    resid = v - coarse[list] (one exactly-rounded IEEE subtraction of
    identical inputs on every engine)."""
    import numpy as np

    cc = np.array([list(map(float, c)) for c in coarse], dtype=np.float64)
    dim = cc.shape[1]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if vecs.shape[1] != dim:
                raise ValueError(
                    f"ivfpq_residuals: vector dim {vecs.shape[1]} != {dim}"
                )
            d = np.round(
                ((vecs[:, None, :] - cc[None, :, :]) ** 2).sum(-1), round_dp
            )
            lst = np.argmin(d, axis=1)
            resid = vecs - cc[lst]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "list": lst.astype(np.int32),
                    "resid": list(map(list, resid)),
                }
            )

    return spread(df.select(id_col, vec_col), id_col).mapInPandas(
        run, schema=f"{id_col} long, list int, resid array<double>"
    )


def build_ivfpq_table(
    df: DataFrame,
    path: str,
    dim: int,
    kc: int = 4,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Build the IVF-PQ table: residual codes written PARTITIONED BY
    coarse list (the inverted lists ARE partitions, the
    build_ivf_table convention), one row = (id, codes), plus the
    sidecars the incremental path needs — the ids registry (the
    append anti-join source) and the frozen geometry, whose write is
    LAST and is the build's commit marker (codes without codebooks =
    loudly-invalid index, the lexindex meta discipline). Returns
    (coarse, codebooks) — both parameter-sized — for the query side.
    The residual PQ trains on ALL residuals (the paper's single shared
    codebook)."""
    spark = df.sparkSession
    ids_p, _, pqcb_p = _ivfpq_sidecars(path)
    # the sidecars live inside ``path``; the older layout kept them
    # beside it as ``<path>_{ids,coarse,pqcb}``, which a rebuild removes
    begin_build(
        spark, pqcb_p, path, *(f"{path.rstrip('/')}_{s}" for s in ("ids", "coarse", "pqcb"))
    )
    # same dedup contract as build_gram_counts/append_ivfpq_table
    # (ADVICE r10): the ids sidecar was already deduped, but codes were
    # encoded from the raw frame — duplicate vec_ids yielded duplicate
    # code rows the distinct-vs-distinct audit cannot see and ADC top-k
    # surfaces as repeated ids. Dedup ONCE so training, codes, and the
    # ids sidecar all see the same frame.
    df = df.dropDuplicates([id_col])
    coarse = coarse_codebook(df, kc, vec_col, id_col)
    # Materialize the residual pass ONCE: its consumers (train_pq's
    # init collect — filters cannot push through mapInPandas — and
    # Lloyd rounds, pq_encode, the ids-registry write) otherwise each
    # re-run the dedup shuffle + spread + Arrow residual pass over the
    # full build input. DISK_ONLY because the frame carries the
    # residual vectors and is corpus-proportional (the
    # no-corpus-scale-memory-pins house rule); released after the
    # commit-marker write.
    from pyspark import StorageLevel

    resid = ivfpq_residuals(df, coarse, vec_col, id_col).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    try:
        cb = train_pq(
            resid,
            dim=dim,
            m=m,
            ksub=ksub,
            iters=iters,
            vec_col="resid",
            id_col=id_col,
        )
        codes = pq_encode(
            resid, cb, vec_col="resid", id_col=id_col, passthrough=["list"]
        )
        # partition-aligned AQE rebalance before the dynamic-partition
        # write (guide §6): without it every mapper task writes a file
        # into every list partition it touches (width × kc tiny files
        # per build/append — 117 files for a 300-vector build); with it
        # each list lands in size-appropriate files, and AQE splits a
        # skewed list across tasks rather than serializing it.
        codes.hint("rebalance", "list").write.mode("overwrite").partitionBy(
            "list"
        ).parquet(path)
        # same id set as df (residuals are 1:1 with the deduped input)
        # — read from the checkpoint instead of re-running the dedup.
        resid.select(id_col).hint("rebalance").write.mode(
            "overwrite"
        ).parquet(ids_p)
        save_ivfpq_codebooks(spark, path, coarse, cb)
    finally:
        from data_pengadaan_agent_spark.operators.graph import (
            _release_local_checkpoint,
        )

        _release_local_checkpoint(resid)
    return coarse, cb


def ivfpq_adc_topk(
    spark,
    path: str,
    coarse: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    round_dp: int = 4,
    lut_dp: int = 6,
) -> DataFrame:
    """ADC top-k over the n_probe nearest inverted lists: rank the
    coarse lists by ROUNDED query distance (ties to the lowest list),
    read ONLY those partitions (a literal PartitionFilter — the scan
    never touches the other lists' files), score each row with its
    LIST'S residual LUT chosen by a parameter-bounded CASE over exact
    BIGINT micro-units, TakeOrderedAndProject at k. Approximate by
    IVF semantics: vectors outside the probed lists are not
    considered."""
    import numpy as np

    cc = np.array([list(map(float, c)) for c in coarse], dtype=np.float64)
    q = np.array(list(map(float, query_vec)), dtype=np.float64)
    if q.shape[0] != cc.shape[1]:
        raise ValueError(f"ivfpq_adc_topk: query dim {q.shape[0]} != {cc.shape[1]}")
    if not 1 <= n_probe <= len(cc):
        raise ValueError("ivfpq_adc_topk: n_probe out of range")
    dq = np.round(((q[None, :] - cc) ** 2).sum(-1), round_dp)
    probed = sorted(range(len(cc)), key=lambda i: (dq[i], i))[:n_probe]

    ksub = len(codebooks[0])
    m = len(codebooks)
    codes_df = spark.read.parquet(path).filter(
        F.col("list").isin([int(p) for p in probed])
    )
    luts = {p: adc_lut(codebooks, (q - cc[p]).tolist(), lut_dp) for p in probed}
    # per-list LUT chosen by an n_probe-bounded CASE chain — literal
    # arrays, stays inside codegen
    chain = None
    for p in probed:
        arr = F.array(*[F.lit(int(v)).cast("bigint") for v in luts[p]])
        chain = (
            F.when(F.col("list") == int(p), arr)
            if chain is None
            else chain.when(F.col("list") == int(p), arr)
        )
    score = None
    for s in range(m):
        term = F.element_at(chain, F.col("codes")[s] + s * ksub + 1)
        score = term if score is None else score + term
    scored = codes_df.select(F.col(id_col), score.cast("bigint").alias("adc_score"))
    top = scored.orderBy(F.asc("adc_score"), F.asc(id_col)).limit(int(k))
    from pyspark.sql import Window

    w = Window.orderBy(F.asc("adc_score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", id_col, "adc_score"
    )


def _ivfpq_sidecars(path: str) -> tuple[str, str, str]:
    """The ids registry and the two codebooks, as ``_``-prefixed
    subdirectories of the codes table: Spark's file listing skips
    them when it reads the codes, and they live and die with the index
    directory (its freshness marker and any cleanup of it). The
    build's ``overwrite`` of the codes clears them first, so it writes
    them after the codes."""
    p = path.rstrip("/")
    return f"{p}/_ids", f"{p}/_coarse", f"{p}/_pqcb"


def save_ivfpq_codebooks(
    spark,
    path: str,
    coarse: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
) -> None:
    """Persist the frozen geometry beside the codes (parameter-sized
    frames). Written LAST by the build — the commit marker: a reader
    finding codes but no codebooks sees a loudly-invalid index, never
    a silently re-trainable one."""
    _, coarse_p, pqcb_p = _ivfpq_sidecars(path)
    local_df(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in enumerate(coarse)],
        "list int, centroid array<double>",
    ).write.mode("overwrite").parquet(coarse_p)
    local_df(
        spark,
        [
            (int(s), int(c), [float(x) for x in v])
            for s, sub in enumerate(codebooks)
            for c, v in enumerate(sub)
        ],
        "sub int, code int, centroid array<double>",
    ).write.mode("overwrite").parquet(pqcb_p)


def load_ivfpq_codebooks(
    spark, path: str
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Read back the frozen geometry; raises if the build never
    committed (codes without codebooks)."""
    _, coarse_p, pqcb_p = _ivfpq_sidecars(path)
    try:
        crows = read_dir(spark, coarse_p).collect()
        prows = read_dir(spark, pqcb_p).collect()
    except Exception as exc:  # noqa: BLE001 - absent = invalid index
        raise ValueError(
            f"ivfpq index at {path!r} has no readable codebooks — the "
            "build crashed before commit; rebuild with build_ivfpq_table"
        ) from exc
    coarse = [
        [float(x) for x in r["centroid"]]
        for r in sorted(crows, key=lambda r: r["list"])
    ]
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in prows:
        by_sub.setdefault(r["sub"], {})[r["code"]] = [
            float(x) for x in r["centroid"]
        ]
    cb = [
        [by_sub[s][c] for c in sorted(by_sub[s])] for s in sorted(by_sub)
    ]
    return coarse, cb


def append_ivfpq_table(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental IVF-PQ maintenance: assign + encode a NEW batch
    with the FROZEN geometry (read from the sidecars — daily shards
    never retrain or rescan the base; drift is the monitor's job, and
    the coarse sidecar plugs straight into similarity.ivf_drift_report)
    and append to the list partitions through
    ``append_ivfpq_residuals``. Returns vectors appended."""
    coarse, cb = load_ivfpq_codebooks(df.sparkSession, path)
    resid = ivfpq_residuals(df, coarse, vec_col, id_col)
    return append_ivfpq_residuals(resid, cb, path, id_col)


def _append_codes(resid: DataFrame, cb, path: str, id_col: str) -> None:
    pq_encode(
        resid, cb, vec_col="resid", id_col=id_col, passthrough=["list"]
    ).hint("rebalance", "list").write.mode("append").partitionBy(
        "list"
    ).parquet(path)


@logged
def append_ivfpq_residuals(
    resid: DataFrame,
    cb: Sequence[Sequence[Sequence[float]]],
    path: str,
    id_col: str = "vec_id",
) -> int:
    """Append a residual frame (id, list, resid) to the index under the
    caller's frozen PQ codebooks: the not-yet-registered rows are
    materialized before any write, ids land first, codes second
    (README "Index lifecycle"); replay is a no-op and the one crash
    state, ids without codes, is flagged by ``audit_ivfpq_table``.

    The streaming sink calls it directly to share one coarse-assign
    pass between the index append and its ack log."""
    ids_p, _, _ = _ivfpq_sidecars(path)
    fresh, n_new = new_rows(resid, ids_p, id_col)
    if n_new:
        fresh.select(id_col).hint("rebalance").write.mode("append").parquet(ids_p)
        _append_codes(fresh, cb, path, id_col)
    return n_new


def audit_ivfpq_table(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """Registry ids without codes (``missing_codes``: probe-invisible
    vectors, healed by ``repair_ivfpq_table``) and orphan codes
    (``orphan_codes``: the ids sidecar was damaged; rebuild). Empty =
    consistent."""
    load_ivfpq_codebooks(spark, path)  # validates the build committed
    return audit_registry(spark, _ivfpq_sidecars(path)[0], path, id_col, "codes")


@logged
def repair_ivfpq_table(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Heal every ``missing_codes`` id: re-encode exactly the flagged
    vectors of ``df`` with the FROZEN sidecar geometry and append their
    codes (their ids rows are already correct). Returns vectors
    re-encoded."""
    spark = df.sparkSession
    coarse, cb = load_ivfpq_codebooks(spark, path)
    flagged = audit_ivfpq_table(spark, path, id_col).filter(
        F.col("state") == "missing_codes"
    )
    todo, n_todo = flagged_rows(df, flagged.select(id_col), id_col, "repair_ivfpq_table")
    if n_todo:
        _append_codes(ivfpq_residuals(todo, coarse, vec_col, id_col), cb, path, id_col)
    return n_todo


def compact_ivfpq_table(spark, path: str, id_col: str = "vec_id") -> int:
    """Rewrite each inverted list to one file:
    every append lays new files into each touched list, so a year of
    shards turns one pruned-list probe into thousands of tiny file
    opens. The PQ codebook is the validity marker; the ids registry
    rides along. Refuses a dirty audit (it would bake probe-invisible
    ids in as lost). Returns files removed."""
    coarse, cb = load_ivfpq_codebooks(spark, path)
    dirty = audit_ivfpq_table(spark, path, id_col).count()
    if dirty:
        raise ValueError(
            f"compact_ivfpq_table: {dirty} inconsistent id(s) in the "
            "index — run repair_ivfpq_table (re-encodes the flagged "
            "vectors with the frozen geometry) before compacting"
        )
    return compact(
        spark, path, "compact_ivfpq_table", part_col="list", key=id_col,
        marker=_ivfpq_sidecars(path)[2],
        recommit=lambda: save_ivfpq_codebooks(spark, path, coarse, cb),
    )


def pq_adc_batch(
    codes_df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    queries,
    k: int = 5,
    id_col: str = "vec_id",
    lut_dp: int = 6,
) -> DataFrame:
    """Batched multi-query ADC top-k — the compressed-corpus analog of
    ``mine_hard_negatives`` (and of ``bm25_retrieval_batch`` on the
    lexical side): one scan of the CODES ranks every query at once.
    ``queries`` is a parameter-bounded list of (qid, vector) — the
    mine_hard_negatives broadcast-batch contract (it is the model
    input, not corpus data; the caller collects it).

    Scale shape: all |Q| LUTs (exact BIGINT micro-units) ship in the
    kernel closure (|Q|·m·ksub ints — parameter-sized); ONE Arrow scan
    of the codes scores every (row, query) pair with a NumPy gather
    and emits only each PARTITION's per-query top-k, so the single
    exchange carries ≤ partitions × |Q| × k rows — never n × |Q|.
    The final per-qid window runs over that bounded set. Integer
    scores end to end; ties rank by id ascending.

    Kernel memory contract: the kernel accumulates its WHOLE
    partition's (id, flat-code) arrays before the top-k cut — int64
    NumPy buffers of (m+1)·8 bytes per code row, independent of
    corpus size but NOT of split size: rows/split is set by
    spark.sql.files.maxPartitionBytes, and since parquet stores codes
    bit-packed (~1 byte/code) the in-memory int64 blow-up is ~8× the
    on-disk bytes — a default 128 MB split of m=16 codes is ~7M rows
    ≈ 1 GB peak per task. Shrink maxPartitionBytes (or pre-
    repartition) if executors are tighter, or trade for
    per-Arrow-batch cuts (constant memory, up to batches/partition ×
    more exchange rows)."""
    import numpy as np

    cb = np.array(codebooks, dtype=np.float64)
    m, ksub, _ = cb.shape
    qids = [int(q) for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("pq_adc_batch: duplicate qids")
    luts = np.array(
        [adc_lut(codebooks, v, lut_dp) for _, v in queries], dtype=np.int64
    )  # |Q| × (m·ksub)
    kk = int(k)

    def topk_partial(batches):
        import pandas as pd

        # accumulate the whole PARTITION's codes before cutting top-k:
        # fewer emitted rows than per-Arrow-batch cuts
        ids_all, flat_all = [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_all.append(pdf[id_col].to_numpy())
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            flat_all.append(codes + (np.arange(m) * ksub)[None, :])
        if not ids_all:
            return
        ids = np.concatenate(ids_all)
        flat = np.concatenate(flat_all)  # n × m flat LUT indices
        out_q, out_id, out_s = [], [], []
        for qi, qid in enumerate(qids):
            scores = luts[qi][flat].sum(axis=1)  # exact int64
            take = min(kk, len(ids))
            pick = np.lexsort((ids, scores))[:take]
            out_q.extend([qid] * take)
            out_id.extend(ids[pick].tolist())
            out_s.extend(scores[pick].tolist())
        yield pd.DataFrame({"qid": out_q, id_col: out_id, "adc_score": out_s})

    from pyspark.sql import Window

    partial = codes_df.select(id_col, "codes").mapInPandas(
        topk_partial, schema=f"qid long, {id_col} long, adc_score bigint"
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_score"), F.asc(id_col))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("qid", "rank", id_col, "adc_score")
    )


def ivfpq_adc_batch(
    spark,
    path: str,
    coarse: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    queries,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    round_dp: int = 4,
    lut_dp: int = 6,
) -> DataFrame:
    """Batched multi-query ADC over the IVF-PQ index — ``pq_adc_batch``
    composed with IVF partition pruning (VERDICT r10 ask #4): at 100 TB
    the batch miner is the steady-state shape (the compressed analog of
    ``mine_hard_negatives``), and it must not scan lists no query
    probes. Per query, the n_probe nearest coarse lists are ranked
    driver-side by ROUNDED distance (ties to the lowest list — the
    ``ivfpq_adc_topk`` rule exactly); the scan reads ONLY the UNION of
    all queries' probed lists as one literal PartitionFilter, so query
    cost is independent of unprobed lists. Inside the kernel each row
    is scored only for the queries that probed ITS list, with that
    (query, list)'s residual LUT (exact BIGINT micro-units) chosen by
    a NumPy gather — |Q|·n_probe·m·ksub LUT ints ship in the closure,
    parameter-sized. Per-partition per-query top-k cut, so the single
    exchange carries ≤ partitions × |Q| × k rows; the final per-qid
    window runs over that bounded set. Approximate by IVF semantics
    per query: vectors outside a query's probed lists are not
    considered for it. Same kernel memory contract as
    ``pq_adc_batch``: the partition's (id, flat-code, list) int64
    buffers are held before the cut — ~8× the bit-packed on-disk
    bytes of one input split. Integer scores; ties rank by id."""
    import numpy as np

    cc = np.array([list(map(float, c)) for c in coarse], dtype=np.float64)
    cb = np.array(codebooks, dtype=np.float64)
    m, ksub, _ = cb.shape
    qids = [int(q) for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("ivfpq_adc_batch: duplicate qids")
    if not 1 <= n_probe <= len(cc):
        raise ValueError("ivfpq_adc_batch: n_probe out of range")
    probed: dict[int, list[int]] = {}
    luts: dict[int, dict[int, "np.ndarray"]] = {}
    for qid, v in queries:
        q = np.array(list(map(float, v)), dtype=np.float64)
        if q.shape[0] != cc.shape[1]:
            raise ValueError(
                f"ivfpq_adc_batch: query dim {q.shape[0]} != {cc.shape[1]}"
            )
        dq = np.round(((q[None, :] - cc) ** 2).sum(-1), round_dp)
        lists = sorted(range(len(cc)), key=lambda i: (dq[i], i))[: int(n_probe)]
        probed[int(qid)] = lists
        luts[int(qid)] = {
            p: np.array(adc_lut(cb.tolist(), (q - cc[p]).tolist(), lut_dp), dtype=np.int64)
            for p in lists
        }
    union_lists = sorted({p for ls in probed.values() for p in ls})
    codes_df = spark.read.parquet(path).filter(
        F.col("list").isin([int(p) for p in union_lists])
    )
    kk = int(k)

    def topk_partial(batches):
        import pandas as pd

        ids_all, flat_all, list_all = [], [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_all.append(pdf[id_col].to_numpy())
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            flat_all.append(codes + (np.arange(m) * ksub)[None, :])
            list_all.append(pdf["list"].to_numpy().astype(np.int64))
        if not ids_all:
            return
        ids = np.concatenate(ids_all)
        flat = np.concatenate(flat_all)
        lists = np.concatenate(list_all)
        out_q, out_id, out_s = [], [], []
        for qid in qids:
            scores = np.zeros(len(ids), dtype=np.int64)
            valid = np.zeros(len(ids), dtype=bool)
            for p in probed[qid]:
                sel = lists == p
                if sel.any():
                    scores[sel] = luts[qid][p][flat[sel]].sum(axis=1)
                    valid |= sel
            idx = np.flatnonzero(valid)
            if len(idx) == 0:
                continue
            take = min(kk, len(idx))
            pick = idx[np.lexsort((ids[idx], scores[idx]))[:take]]
            out_q.extend([qid] * take)
            out_id.extend(ids[pick].tolist())
            out_s.extend(scores[pick].tolist())
        if out_q:
            yield pd.DataFrame({"qid": out_q, id_col: out_id, "adc_score": out_s})

    from pyspark.sql import Window

    partial = codes_df.select(id_col, "codes", "list").mapInPandas(
        topk_partial, schema=f"qid long, {id_col} long, adc_score bigint"
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_score"), F.asc(id_col))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("qid", "rank", id_col, "adc_score")
    )


def pq_quantization_report(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 4,
    err_dp: int = 4,
) -> DataFrame:
    """Per-subspace quantization-error report — the PQ analog of
    ``ivf_drift_report``: when daily shards keep arriving under a
    frozen codebook, rising reconstruction error is the retrain
    signal. Per subspace: vectors seen, the exact integer SUM of
    per-vector errors (floor(‖v_sub − centroid(code)‖²·10^err_dp +
    0.5) — the LUT rule at the 4dp grid, NOT 1e6: the sf0.1 fixture
    measured pre-round distances inside drift range of .5e-6 halves,
    so the error grid stays at the same 4dp the assignment uses,
    where margins are three orders above drift; the sum is order-free
    and cross-engine exact), their mean as one double division, and
    the max. Code choice is the encode argmin (rounded at
    ``round_dp``, lowest code on ties), so the report measures
    exactly the error the stored codes carry.

    Scale shape: ONE Arrow scan, each batch collapsing to m partial
    rows (sub, n, err_sum, err_max) before the only exchange — an
    m-row aggregate, never per-vector traffic."""
    import numpy as np

    cb = np.array(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    dim = m * dsub
    scale = 10 ** err_dp

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if vecs.shape[1] != dim:
                raise ValueError(
                    f"pq_quantization_report: vector dim {vecs.shape[1]} != {dim}"
                )
            rows = []
            n = len(vecs)
            for s in range(m):
                sv = vecs[:, s * dsub : (s + 1) * dsub]
                d = ((sv[:, None, :] - cb[s][None, :, :]) ** 2).sum(-1)
                code = np.argmin(np.round(d, round_dp), axis=1)
                chosen = d[np.arange(n), code]
                micro = np.floor(chosen * scale + 0.5).astype(np.int64)
                rows.append((s, n, int(micro.sum()), int(micro.max())))
            yield pd.DataFrame(
                rows, columns=["sub", "n", "err_sum", "err_max"]
            )

    partial = spread(df.select(id_col, vec_col), id_col).mapInPandas(
        partials, schema="sub int, n long, err_sum long, err_max long"
    )
    return (
        partial.groupBy("sub")
        .agg(
            F.sum("n").cast("bigint").alias("n_vecs"),
            F.sum("err_sum").cast("bigint").alias("err_micro_sum"),
            F.max("err_max").cast("bigint").alias("err_micro_max"),
        )
        .select(
            "sub",
            "n_vecs",
            "err_micro_sum",
            (
                F.col("err_micro_sum").cast("double")
                / F.col("n_vecs").cast("double")
            ).alias("mean_err_micro"),
            "err_micro_max",
        )
        .orderBy("sub")
    )

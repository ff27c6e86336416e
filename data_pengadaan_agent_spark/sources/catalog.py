"""Sources + catalog operators.

Covers SURVEY.md §2.1 (S1–S4 scans/sinks) and §2.9 (M1–M4 catalog
ops), re-grounded on Parquet + the Spark catalog instead of SQLite
``PRAGMA`` calls (reference: openai/list_of_tools.py:148-202,
langchain/langchain_tool.py:56-102).

Scale notes:
- Tables are plain Parquet scans; Catalyst pushes predicates and
  prunes columns into the scan, so registering *views* costs nothing.
- The ``events`` fixture carries TIMESTAMP(NANOS) which Spark's
  vectorized reader rejects; we read nanos as LongType
  (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a proper
  TimestampType with *integer* division (``div 1000``) — floating
  division would lose precision above 2^53 ns and is wrong. DuckDB
  truncates ns→µs identically, keeping the oracle comparable.
"""

from __future__ import annotations

import functools
import hashlib
import logging
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Index lifecycle events (gate decisions, appends, repairs, compactions)
# go to this one logger at INFO.
log = logging.getLogger("data_pengadaan_agent_spark.index")


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        return spark.read.parquet(path)
    except Exception:
        # Session not built by get_spark(): enable nanos-as-long and retry.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


# Lazy plan cache: (appId, sf_dir, table) -> DataFrame. A DataFrame is
# just an analyzed logical plan — caching the OBJECT (not the data)
# skips the repeated file-listing + parquet footer/schema read that
# spark.read.parquet does on every call (~0.1-0.3 s each), without
# changing the physical plan: every query still compiles to a fresh
# parquet scan with its own pushed filters and pruned columns. At 88
# gate queries × ~2 tables each this is tens of seconds of pure
# metadata overhead removed. Keyed by applicationId so a restarted
# session never sees another JVM's plans.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: columnar scan of one fixture table, normalized schema."""
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    hit = _PLAN_CACHE.get(key)
    if hit is not None:
        return hit
    if name == "events":
        # events carries TIMESTAMP(NANOS): enable nanos-as-long up front
        # (runtime-settable) so a vanilla driver session reads it too.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = _read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    # Normalize nanosecond-long timestamp columns back to TimestampType.
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    _PLAN_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view for spark.sql use."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


# --- Catalog / metadata operators (M1–M4) ---------------------------------


def schema_check(spark: SparkSession) -> dict:
    """M1: full catalog dump, same JSON shape as the reference's
    PRAGMA-based ``schema_check`` (openai/list_of_tools.py:167-202).
    Spark has no primary keys, so ``primary_key`` is always False.
    """
    out: dict[str, list[dict]] = {}
    for t in spark.catalog.listTables():
        cols = spark.catalog.listColumns(t.name)
        out[t.name] = [
            {
                "name": c.name,
                "type": c.dataType,
                "nullable": c.nullable,
                "primary_key": False,
            }
            for c in cols
        ]
    return out


def list_tables(spark: SparkSession) -> str:
    """M2: comma-separated table names (langchain/langchain_tool.py:85-102)."""
    return ", ".join(sorted(t.name for t in spark.catalog.listTables()))


def schema_head_echo(df: DataFrame, n: int = 5) -> dict:
    """M4: {schema, first n rows} echo returned after materialization
    (openai/list_of_tools.py:154-164, langchain/my_toolkit.py:73-109).
    """
    return {
        "schema": df.schema.jsonValue(),
        "first_rows": [r.asDict(recursive=True) for r in df.limit(n).collect()],
    }


def local_df(
    spark: SparkSession, rows, schema, slices: int | None = None
) -> DataFrame:
    """Driver-local rows (metas, codebooks, parameter tables) as a
    DataFrame with the slice count scaled to the ROW count, not
    defaultParallelism. ``createDataFrame(list)`` parallelizes into
    defaultParallelism slices regardless of size, and a later
    ``coalesce(1).write`` walks every slice through a serial Python
    round-trip — measured ~5 s of pure fixed cost PER 16-row
    codebook/meta write at local[32], repeated inside every index
    build. One slice per 1024 rows (min 1) keeps tiny frames one
    cheap task while large driver-side lists stay parallel; pass
    ``slices`` explicitly when per-row work dominates (e.g. a file
    list fanned out to footer readers). Values are identical to the
    plain form."""
    rows = list(rows)
    sc = spark.sparkContext
    if slices is None:
        slices = min(sc.defaultParallelism, (len(rows) + 1023) // 1024)
    return spark.createDataFrame(
        sc.parallelize(rows, max(1, int(slices))), schema
    )


def spread(df: DataFrame, key: str | None = None, min_parts: int | None = None) -> DataFrame:
    """Guarantee mapper parallelism for compute-heavy map-side
    operators: a single-file / single-row-group input scans as ONE
    task, serializing per-row work (signatures, array sorts, n-gram
    explodes) no matter how many cores the cluster has. When the scan
    already yields >= the target split count — the normal case on a
    real multi-file table, where maxPartitionBytes sizes the splits —
    this is a NO-OP costing one plan inspection; only starved inputs
    pay the one round-robin exchange, which ships the (small) raw
    rows once so every downstream stage runs wide."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, key) if key else df.repartition(target)


def ensure_index(
    spark: SparkSession,
    path: str,
    sf: str,
    tables: Iterable[str],
    spec,
    build: Callable[[], object],
) -> bool:
    """The one freshness gate of a materialized index: rebuild unless
    the index was built from exactly these source files under exactly
    this ``spec``. Returns True iff ``build()`` ran.

    The marker is sha256 over ``repr(spec)`` and the ``(path, length,
    modificationTime)`` of every file under ``{sf}/{t}.parquet`` for
    each source table ``t`` — a driver-side Hadoop listing, no Spark
    job. The index is fresh iff the empty file ``{path}/_gate/<sha>``
    exists (one ``exists`` call). Otherwise ``_gate`` is deleted,
    ``build()`` runs and the marker is created after it returns, so a
    build that raises or dies leaves no marker and the next call
    rebuilds. A content change that keeps the row count still changes
    the listing, so the gate never serves an index of older content.
    ``_gate`` starts with an underscore, so Spark's file listing skips
    it when ``path`` itself is a parquet dataset."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    digest = hashlib.sha256(repr(spec).encode())
    for t in tables:
        src = jvm_path(f"{sf.rstrip('/')}/{t}.parquet")
        files, it = [], src.getFileSystem(conf).listFiles(src, True)
        while it.hasNext():
            st = it.next()
            files.append(f"{st.getPath()}\t{st.getLen()}\t{st.getModificationTime()}")
        digest.update("\n".join(sorted(files)).encode() + b"\n\n")
    gate = f"{path.rstrip('/')}/_gate"
    marker = jvm_path(f"{gate}/{digest.hexdigest()}")
    fs = marker.getFileSystem(conf)
    if fs.exists(marker):
        log.info("index fresh: %s", path)
        return False
    t0 = time.perf_counter()
    fs.delete(jvm_path(gate), True)
    build()
    fs.create(marker, True).close()
    log.info("index rebuilt: %s in %.2fs", path, time.perf_counter() - t0)
    return True


# What a commit settles, per directory: the meta rows of a meta
# directory and the schema of an index subdirectory, each stored with
# the identity of the index's meta files it was read under. Never a
# DataFrame or a data-file listing: those are re-made on every call.
_META: dict[str, tuple[tuple, list]] = {}
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _no_meta(label: str, meta_p: str) -> ValueError:
    return ValueError(
        f"{label} at {meta_p!r} has no readable meta table — absent, "
        "corrupt, or a build crashed before commit; rebuild it"
    )


def _commit_key(spark: SparkSession, meta_p: str, label: str) -> tuple:
    """(name, length, mtime) of every file of the meta directory, from
    one driver-side Hadoop ``listStatus`` — no Spark job. Every build,
    and every append or compaction that changes what meta holds,
    rewrites meta last under a new part-file name, so a commit changes
    the key. An absent meta directory is the ValueError of
    ``read_meta``."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    p = jvm_path(meta_p)
    try:
        sts = p.getFileSystem(spark._jsc.hadoopConfiguration()).listStatus(p)
    except Exception as exc:  # noqa: BLE001 - absent meta = invalid index
        raise _no_meta(label, meta_p) from exc
    return tuple(
        sorted((st.getPath().getName(), st.getLen(), st.getModificationTime()) for st in sts)
    )


def read_meta(
    spark: SparkSession,
    meta_p: str,
    label: str,
    require: Iterable[tuple[str, str]] = (),
):
    """The 1-row meta table an index writes LAST as its commit marker.
    Absent or unreadable (a build that crashed before commit), not
    exactly one row, or missing a column of ``require`` — ``(column,
    the meta change that added it)`` pairs, so an index written before
    that change is rebuilt — is a loud ValueError naming ``label``,
    never a guess. The rows are read once per ``_commit_key``: a warm
    read of an unchanged index starts no Spark job."""
    meta_p = meta_p.rstrip("/")
    key = _commit_key(spark, meta_p, label)
    hit = _META.get(meta_p)
    if hit is None or hit[0] != key:
        try:
            hit = _META[meta_p] = (key, spark.read.parquet(meta_p).collect())
        except Exception as exc:  # noqa: BLE001 - corrupt meta = invalid index
            raise _no_meta(label, meta_p) from exc
    rows = hit[1]
    if len(rows) != 1:
        raise ValueError(f"{label} meta at {meta_p!r} must be exactly 1 row")
    have = rows[0].asDict()
    for col, change in require:
        if col not in have:
            raise ValueError(f"{label} meta at {meta_p!r} predates {change}; rebuild it")
    return rows[0]


def write_meta(spark: SparkSession, meta_p: str, ddl, values) -> None:
    """Commit the 1-row meta table under an explicit schema (a DDL
    string or StructType): inferring it from the values would widen
    int columns to bigint and drift the schema across rewrites."""
    local_df(spark, [tuple(values)], ddl).write.mode("overwrite").parquet(meta_p)


def swap_dirs(
    fs, jvm_path, tmp: str, live: str, old: str, label: str, carry: Iterable[str] = ()
) -> None:
    """Commit a rewritten directory over the live one: move each
    ``carry`` subdirectory of ``live`` into ``tmp``, rename ``live`` ->
    ``old``, ``tmp`` -> ``live``, delete ``old``.

    Hadoop ``FileSystem.rename`` reports failure by RETURNING false,
    not by raising, so every rename here is checked: an unchecked
    failed second rename followed by the old-copy delete would destroy
    the only surviving copy of the data. Callers delete their validity
    marker BEFORE the swap and recommit it after, so every abort here
    leaves the index loudly invalid, never silently half-swapped:

    - a carry or the first rename fails -> live data in place (carried
      subdirectories already in ``tmp``), OSError;
    - second rename fails -> original restored, OSError — and the
      restore rename is itself checked: if it also fails the data
      still survives at ``old`` and the message says so.

    A leftover ``old`` from a PRIOR swap (crash after the second rename
    but before delete(old)) is deleted up front: ``live`` already holds
    the new copy then, and Hadoop rename returns false when the
    destination exists, so without the sweep every later swap would
    wedge on its first rename. The double-failure abort (data only at
    ``old``, ``live`` absent) is never swept: a retry fails on the
    missing source instead.
    """
    if fs.exists(jvm_path(old)) and fs.exists(jvm_path(live)):
        fs.delete(jvm_path(old), True)
    for name in carry:
        if not fs.rename(jvm_path(f"{live}/{name}"), jvm_path(f"{tmp}/{name}")):
            raise OSError(f"{label}: could not move {live}/{name} into {tmp}")
    if not fs.rename(jvm_path(live), jvm_path(old)):
        raise OSError(
            f"{label}: rename {live} -> {old} failed; live data untouched"
            " (source missing, or a leftover old-copy destination from an"
            " aborted restore — inspect before retrying)"
        )
    if not fs.rename(jvm_path(tmp), jvm_path(live)):
        if not fs.rename(jvm_path(old), jvm_path(live)):
            raise OSError(
                f"{label}: rename {tmp} -> {live} failed AND the restore "
                f"rename failed; original data preserved at {old}"
            )
        raise OSError(
            f"{label}: rename {tmp} -> {live} failed; original restored"
        )
    fs.delete(jvm_path(old), True)


# --- Index lifecycle kernel ------------------------------------------------
# The write contracts every maintained index shares (README "Index
# lifecycle"): a build starts with ``begin_build`` and writes its
# validity marker last; an append writes its registry first, so a
# replay is a no-op; the audit flags registry ids without index rows; a
# repair re-derives exactly those rows from a source frame; a
# compaction commits through ``compact``.


def begin_build(spark: SparkSession, *paths: str) -> None:
    """The first step of every index build: delete ``paths`` in order —
    the validity marker first, then every directory the build rewrites.
    From the first delete on, readers reject the index; the build
    writes its marker last, so a crash anywhere leaves an index readers
    reject, never a mix of two builds. Deleting the data directories,
    not only overwriting them, keeps a rebuild exact under
    ``spark.sql.sources.partitionOverwriteMode=dynamic``: a partitioned
    overwrite then replaces only the partitions the new rows touch, and
    every other partition of the old build would survive. Hadoop
    ``delete`` of an absent path returns false, so nothing is probed
    first."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        jvm_path(p).getFileSystem(conf).delete(jvm_path(p), True)


def read_dir(spark: SparkSession, path: str) -> DataFrame:
    """The parquet rows of the directory ``path``. A ``_``-prefixed
    sidecar is read through its file paths: named as the read path,
    Spark's listing hides it, falls back to the path itself and logs
    ``All paths were ignored`` on every read."""
    if not _sidecar(path.rstrip("/").rsplit("/", 1)[-1]):
        return spark.read.parquet(path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return spark.read.parquet(
        *(
            str(st.getPath())
            for st in fs.listStatus(jvm_path(path))
            if not st.getPath().getName().startswith(("_", "."))
        )
    )


def read_index(
    spark: SparkSession, path: str, sub: str, buckets: Iterable[int] | None = None
) -> DataFrame:
    """The rows of the index subdirectory ``{path}/{sub}`` under the
    schema its commit settled: inferred on the first read after each
    ``_commit_key`` change of ``{path}/meta``, then given to the scan,
    so a warm read starts no schema-inference job. Appends keep the
    column types, so the schema holds until the next build rewrites
    meta.

    ``buckets`` reads only the ``bucket=<b>`` directories among them
    that exist, listed driver-side, with ``basePath`` set so ``bucket``
    stays a column and the ``bucket`` IN-list stays a partition filter:
    reading the root instead lists every bucket directory, with a
    Spark job once there are more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``. None
    existing is an empty frame of the same schema. Files are listed on
    every call, so no answer comes from an older file set."""
    p = path.rstrip("/")
    root = f"{p}/{sub}"
    key = _commit_key(spark, f"{p}/meta", "index")
    hit = _SCHEMAS.get(root)
    if hit is None or hit[0] != key:
        hit = _SCHEMAS[root] = (key, spark.read.parquet(root).schema)
    schema = hit[1]
    if buckets is None:
        return spark.read.schema(schema).parquet(root)
    want = sorted({int(b) for b in buckets})
    found = []
    if want:
        glob = spark._jvm.org.apache.hadoop.fs.Path(
            f"{root}/bucket={{{','.join(map(str, want))}}}"
        )
        found = glob.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(glob) or []
    dirs = [f"{root}/{st.getPath().getName()}" for st in found]
    if not dirs:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", root)
        .parquet(*dirs)
        .filter(f"bucket IN ({','.join(map(str, want))})")
    )


def logged(fn):
    """Log each call of an append or repair: its name, the count it
    returns and its seconds."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        log.info("%s: %s rows in %.2fs", fn.__name__, out, time.perf_counter() - t0)
        return out

    return run


def new_rows(batch: DataFrame, registry_p: str, id_col: str) -> tuple[DataFrame, int]:
    """The rows of ``batch`` an append writes — one per id, none whose
    id the registry at ``registry_p`` holds — materialized, so every
    write of the append sees the same verdict, and their count."""
    seen = read_dir(batch.sparkSession, registry_p).select(id_col)
    fresh = batch.dropDuplicates([id_col]).join(seen, id_col, "left_anti")
    fresh = fresh.localCheckpoint(eager=True)
    return fresh, fresh.count()


def audit_registry(
    spark: SparkSession, registry_p: str, rows_p: str, id_col: str, noun: str
) -> DataFrame:
    """(id, state): registry ids without index rows (``missing_<noun>``:
    an append whose second write died) and index rows without a
    registry id (``orphan_<noun>``: registry damage; rebuild). Empty =
    consistent."""
    reg = read_dir(spark, registry_p).select(id_col).distinct()
    rows = spark.read.parquet(rows_p).select(id_col).distinct()
    missing = reg.join(rows, id_col, "left_anti").select(
        id_col, F.lit(f"missing_{noun}").alias("state")
    )
    orphan = rows.join(reg, id_col, "left_anti").select(
        id_col, F.lit(f"orphan_{noun}").alias("state")
    )
    return missing.unionByName(orphan)


def flagged_rows(
    source: DataFrame, flagged: DataFrame, id_col: str, label: str
) -> tuple[DataFrame, int]:
    """The rows of ``source`` a repair re-derives — one per ``flagged``
    id, materialized — and their count. A source that lacks a flagged
    id is refused: repairing from it would report the id healed while
    it stays invisible."""
    todo = source.dropDuplicates([id_col]).join(flagged, id_col, "left_semi")
    todo = todo.localCheckpoint(eager=True)
    n, n_flagged = todo.count(), flagged.count()
    if n < n_flagged:
        raise ValueError(
            f"{label}: source frame is missing flagged ids ({n_flagged - n}) "
            "— a repair re-reads the original row of every flagged id"
        )
    return todo, n


# Registered-batch counts (hist, CMS): ``cube/`` holds count rows that
# readers SUM, ``batches/`` the batch ids whose rows landed, ``meta/``
# the frozen geometry, written last.
_BUILD_BATCH = "__build__"


def cube_paths(path: str) -> tuple[str, str, str]:
    p = path.rstrip("/")
    return f"{p}/cube", f"{p}/batches", f"{p}/meta"


def build_counts(rows: DataFrame, path: str, ddl: str, values) -> None:
    """Build a registered-batch count cube from its count ``rows``:
    the rows, the registry holding the build's reserved batch, then
    the meta ``(ddl, values)``."""
    spark = rows.sparkSession
    cube_p, batches_p, meta_p = cube_paths(path)
    begin_build(spark, meta_p, cube_p, batches_p)
    rows.write.mode("overwrite").parquet(cube_p)
    local_df(spark, [(_BUILD_BATCH,)], "batch_id string").write.mode("overwrite").parquet(
        batches_p
    )
    write_meta(spark, meta_p, ddl, values)


def append_counts(rows: DataFrame, path: str, batch_id: str, label: str) -> int:
    """Append the count ``rows`` of batch ``batch_id``. Counts add, so
    a replay would double them: the batch registry commits FIRST and a
    registered ``batch_id`` is a no-op (returns 0). A crash between the
    registry and the rows leaves the batch under-counted and
    indistinguishable from an empty shard, so a retry after a crash
    takes a NEW batch id. Returns cube rows appended."""
    if not batch_id or batch_id == _BUILD_BATCH:
        raise ValueError(
            f"{label}: need a non-empty batch_id (not the reserved '{_BUILD_BATCH}')"
        )
    spark = rows.sparkSession
    cube_p, batches_p, _ = cube_paths(path)
    seen = spark.read.parquet(batches_p).filter(F.col("batch_id") == str(batch_id))
    if seen.limit(1).count() > 0:
        return 0
    rows = rows.localCheckpoint(eager=True)
    n = rows.count()
    local_df(spark, [(str(batch_id),)], "batch_id string").write.mode("append").parquet(
        batches_p
    )
    rows.write.mode("append").parquet(cube_p)
    return n


def append_union(rows: DataFrame, data_p: str) -> int:
    """Append the sketch ``rows`` of an idempotent set-union family
    (HLL, KMV) to ``data_p``: readers union the rows, so a replayed or
    partly written append converges once the rows land again — no
    registry, no marker. An empty shard writes nothing. Returns rows
    appended."""
    rows = rows.localCheckpoint(eager=True)
    n = rows.count()
    if n:
        rows.write.mode("append").parquet(data_p)
    return n


def _sidecar(name: str) -> bool:
    """Spark's hidden-path rule: ``_``-prefixed, but not a partition
    directory such as ``_sig=b0101``."""
    return name.startswith("_") and "=" not in name


def _n_files(fs, jvm_path, path: str) -> int:
    """Data files of a table directory, sidecars excluded."""
    it, n = fs.listFiles(jvm_path(path), True), 0
    while it.hasNext():
        f = it.next().getPath()
        n += f.getName().endswith(".parquet") and not _sidecar(f.getParent().getName())
    return n


def compact(
    spark: SparkSession,
    path: str,
    label: str,
    frame: DataFrame | None = None,
    *,
    part_col: str | None = None,
    key: str | None = None,
    target_files: int = 1,
    marker: str | None = None,
    recommit: Callable[[], object] | None = None,
) -> int:
    """The one compaction of an index directory: write ``frame`` (by
    default the directory's own rows) to a staged copy, delete the
    validity ``marker`` — readers reject the index from here — swap
    the copy in through ``swap_dirs``, carrying the sidecar
    subdirectories of ``path`` (``_``-prefixed, not partitions) along,
    then ``recommit()``. A
    crash at any point leaves an index readers reject, never a
    half-compacted one; the next run sweeps the stale staged copy.

    ``key`` spreads the rows over at most ``target_files`` files, per
    ``part_col`` partition when given: each (partition, key hash mod
    ``target_files``) pair lands in one task, so a large partition is
    split over ``target_files`` tasks rather than sent whole to one.
    The task count is fixed (``target_files`` per core), since AQE
    would coalesce small tasks and with them the split. Returns data
    files removed."""
    t0 = time.perf_counter()
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm_path(path)):
        raise ValueError(f"{label}: no table at {path!r}")
    tmp, old = f"{path}_compact_tmp", f"{path}_compact_old"
    fs.delete(jvm_path(tmp), True)
    rows = spark.read.parquet(path) if frame is None else frame
    if key is not None:
        sub = F.pmod(F.xxhash64(key), F.lit(int(target_files)))
        rows = (
            rows.repartition(int(target_files), sub)
            if part_col is None
            else rows.repartition(
                int(target_files) * spark.sparkContext.defaultParallelism, F.col(part_col), sub
            )
        )
    before = _n_files(fs, jvm_path, path)
    rows.write.mode("overwrite").partitionBy(*filter(None, [part_col])).parquet(tmp)
    if marker is not None:
        fs.delete(jvm_path(marker), True)
    carry = [
        st.getPath().getName()
        for st in fs.listStatus(jvm_path(path))
        if st.isDirectory() and _sidecar(st.getPath().getName())
    ]
    swap_dirs(fs, jvm_path, tmp, path, old, label, carry)
    if recommit is not None:
        recommit()
    removed = before - _n_files(fs, jvm_path, path)
    log.info("%s: %d files removed in %.2fs", label, removed, time.perf_counter() - t0)
    return removed

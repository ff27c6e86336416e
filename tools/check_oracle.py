"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
given SF, compare row count + column names + CANONICAL ARROW TYPES +
order-insensitive values.

Round-2 hardening: the round-1 replica stringified every cell through
``f"{float(v):.12g}"``, which masked type-representation drift that the
driver's hash sees (DuckDB ``sum(BIGINT)`` returns HUGEINT — exported
as decimal128/float — while Spark returns LONG; identical values,
different serialization → driver hash fail on `corpus_curation`).
Now both results are fetched as Arrow tables and their canonical types
must agree: an integer column only matches an integer column, a
decimal's scale must match, floats only match floats.

Round-15 hardening (VERDICT r14 ask #1): the driver's value-hash
serializes scale-0 DECIMAL columns DIFFERENTLY between its Spark and
DuckDB collection paths — CORRECTNESS_r14 failed token_rarity /
tfidf_top_terms on hash_match with rows+schema green and this replica
green (both engines computed identical integers). The driver's hash
function itself is not reproducible here (no driver source), so the
enforcement is class-level: any query whose OUTPUT schema contains a
scale-0 decimal column is now flagged DRIVER-HASH-RISK and fails the
sweep — exact integer results must cross the output edge as BIGINT
(``functions.exactmath.dec_to_bigint_sql`` keeps the overflow loud).
Scale>0 decimals (money aggregates) have been driver-hash-green for
14 rounds and stay allowed.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa


def canon_type(t: pa.DataType) -> str:
    """Collapse an Arrow type to the equivalence class the driver's
    value-hash cares about: ints of any width are one class, floats
    another, decimals keyed by scale (precision is engine-dependent:
    Spark widens sum(DECIMAL(12,2)) to (22,2), DuckDB to (38,2) — the
    serialized values are identical)."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal(.,{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{canon_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def norm_cell(v, ctype: str):
    """Normalize a Python-level cell for order-insensitive value
    comparison WITHIN an already-type-matched column."""
    if v is None:
        return "NULL"
    if ctype == "float":
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0.0:
            f = 0.0
        return f"{f:.12g}"
    if ctype.startswith("decimal"):
        # same scale on both sides → exact string compare after
        # stripping exponent form
        from decimal import Decimal

        return str(Decimal(str(v)).normalize())
    if ctype == "timestamp":
        return v.isoformat(sep=" ") if hasattr(v, "isoformat") else str(v)
    if ctype == "date":
        return v.isoformat() if hasattr(v, "isoformat") else str(v)
    if ctype == "bin":
        return bytes(v).hex()
    if ctype == "bool":
        return str(bool(v))
    if ctype.startswith("list"):
        inner = ctype[5:-1]
        return "[" + ",".join(norm_cell(x, inner) for x in v) + "]"
    if ctype == "int":
        return str(int(v))
    return str(v)


def table_to_normalized(tbl: pa.Table):
    """(sorted rows of normalized cells, sorted col names, canon types
    by sorted col order)."""
    names = list(tbl.column_names)
    order = sorted(range(len(names)), key=lambda i: names[i])
    ctypes = [canon_type(tbl.schema.field(i).type) for i in order]
    cols = [tbl.column(i).to_pylist() for i in order]
    rows = sorted(
        tuple(norm_cell(cols[j][r], ctypes[j]) for j in range(len(order)))
        for r in range(tbl.num_rows)
    )
    return rows, [names[i] for i in order], ctypes


def spark_to_arrow(df) -> pa.Table:
    return df.toArrow()


# Regression floor (VERDICT r3 ask #8): the driver-checked registry
# size. Bump it when (and only when) adding entries.
REGISTRY_FLOOR = 150


def check_registry(E) -> None:
    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) >= REGISTRY_FLOOR, (
        f"queries() shrank: {len(qs)} < floor {REGISTRY_FLOOR} — "
        "entries must never be dropped, only rotated"
    )
    missing = sorted(set(qs) - set(oracles))
    assert not missing, f"queries() entries with no oracle_sql() twin: {missing}"
    orphans = sorted(set(oracles) - set(qs))
    assert not orphans, f"oracle_sql() entries not registered in queries(): {orphans}"


def main():
    # --vanilla: run the Spark side under a DRIVER-STYLE session
    # (bare local[32], none of session.get_spark's tuned confs) — the
    # one divergence between this replica and the real gate. The r13
    # continuation proved every entry green under it; keep it that
    # way by re-running `check_oracle.py --vanilla <sf_dir>` whenever
    # an operator starts depending on a session conf (nanosAsLong,
    # Arrow, shuffle partitions are the usual suspects — load_table
    # sets nanosAsLong at runtime for exactly this reason).
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as E
    from data_pengadaan_agent_spark.session import get_spark

    check_registry(E)

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    results = {}
    t_start = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            stbl = spark_to_arrow(sdf)
        except Exception as e:
            results[name] = f"SPARK-ERROR: {type(e).__name__}: {e}"
            continue
        if name not in oracles:
            results[name] = f"rows-only ({stbl.num_rows} rows, {time.time()-t0:.1f}s)"
            continue
        try:
            dtbl = con.execute(oracles[name]).arrow()
        except Exception as e:
            results[name] = f"DUCKDB-ERROR: {type(e).__name__}: {e}"
            continue
        risky = [
            f.name
            for f in stbl.schema
            if pa.types.is_decimal(f.type) and f.type.scale == 0
        ] + [
            f.name
            for f in dtbl.schema
            if pa.types.is_decimal(f.type) and f.type.scale == 0
        ]
        if risky:
            results[name] = (
                f"DRIVER-HASH-RISK: scale-0 decimal output column(s) "
                f"{sorted(set(risky))} — the class the driver's hash "
                f"serializes divergently (r14); narrow with "
                f"dec_to_bigint_sql"
            )
            continue
        sn, scn, sct = table_to_normalized(stbl)
        dn, dcn, dct = table_to_normalized(dtbl)
        if scn != dcn:
            results[name] = f"COLUMN-MISMATCH spark={scn} duck={dcn}"
        elif sct != dct:
            pairs = [
                f"{c}: spark={a} duck={b}"
                for c, a, b in zip(scn, sct, dct)
                if a != b
            ]
            results[name] = f"TYPE-MISMATCH {pairs}"
        elif len(sn) != len(dn):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(sn)} duck={len(dn)}"
        elif sn != dn:
            diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            n_bad = len([1 for a, b in zip(sn, dn) if a != b])
            results[name] = f"VALUE-MISMATCH ({n_bad} rows) e.g. {diff}"
        else:
            results[name] = f"OK ({len(sn)} rows, {time.time()-t0:.1f}s)"

    width = max(len(n) for n in results)
    n_ok = sum(1 for v in results.values() if v.startswith(("OK", "rows-only")))
    for name, res in results.items():
        print(f"{name:<{width}}  {res}")
    print(f"\n{n_ok}/{len(results)} passing in {time.time()-t_start:.1f}s")
    spark.stop()
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())

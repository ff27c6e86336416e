"""Audit the round(double, N) determinism risk class across the whole
registry (VERDICT r8 ask #3).

Failure class (demonstrated by the r8 driver red on
``bm25_retrieval_batch``): Spark rounds a double HALF_UP on its
SHORTEST decimal representation (BigDecimal.valueOf) while DuckDB's
``round(double, N)`` scales-and-rounds the binary value, so the two
engines can disagree by 1e-N on a value whose scaled fraction sits at
a representation boundary (~0.5·10^-N away from the grid). Whether the
boundary is HIT is a property of the DATA, and the fixtures are static
parquet — so for every registered oracle twin we can
MEASURE the minimum distance of every pre-round value from its nearest
rounding boundary and certify the margin.

Method: DuckDB lets ``CREATE OR REPLACE MACRO round(x, p) AS x``
shadow the built-in, so each twin runs twice — normal and
round-as-identity — in separate connections. A float column whose
normal values all terminate within 9 decimals is a rounded (or
grid-valued) column; its rounding scale N is inferred as the max
decimal places observed. The identity run then yields the PRE-round
population for that column, and the margin of value v at scale N is

    margin(v) = |frac(|v| * 10^N) - 0.5|

(distance of the scaled fraction from the half-way point, in units of
the last kept digit; 0.5 = sitting exactly on grid = safest, 0.0 =
exactly half-way = engine-dependent). Anything below ~1e-6 is within
double-representation ambiguity for O(1e3)-magnitude values and is
flagged.

Caveat recorded honestly: for twins that RANK on rounded keys the
identity run may select different rows than the real query, so the
margin statistics sample the same value population near the cut rather
than the exact output set — adequate for certifying "no value anywhere
near a boundary", which is the claim being audited.

Usage: python tools/audit_round_boundaries.py [sf_dir] [entry ...]
Writes a summary table to stdout and tools/round_audit.json.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

FLAG_MARGIN = 1e-6  # scaled-fraction distance considered dangerous

# Columns whose round() input is a DECIMAL on BOTH engines but whose
# CAST-to-double sits OUTSIDE the round, so the identity-macro type
# probe sees a double and cannot auto-classify them. Decimal rounding
# is exact digit arithmetic (HALF_UP away from zero on both engines) —
# no representation boundary exists. Verified by reading both sides.
SAFE_DECIMAL_ROUND = {
    # Spark: F.round(F.sum(DECIMAL), 2).cast("double");
    # DuckDB: CAST(round(sum(DECIMAL...), 2) AS DOUBLE)
    "tpch_q9_product_profit": {"sum_profit"},
}


def connect(sf_dir: str, identity_round: bool):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    if identity_round == 2:
        con.execute("CREATE OR REPLACE MACRO round(x, p) AS x")
    elif identity_round == 1:
        # twins using the 1-arg form (DuckDB macros can't overload)
        con.execute("CREATE OR REPLACE MACRO round(x) AS x")
    return con


def decimals_used(v: float) -> int:
    """Decimal places in the shortest (repr) form of v; 99 if
    scientific-notation tiny/huge (treated as non-grid)."""
    s = repr(float(v))
    if "e" in s or "E" in s:
        return 99
    if "." not in s:
        return 0
    return len(s.split(".")[1].rstrip("0"))


def audit_entry(name: str, sql: str, con_norm, con_ident, con_ident1):
    import pyarrow as pa

    out = {"cols": {}, "err": None}
    try:
        norm = con_norm.execute(sql).arrow()
        try:
            ident = con_ident.execute(sql).arrow()
        except Exception:
            # twin uses 1-arg round(x): retry with the 1-arg macro
            ident = con_ident1.execute(sql).arrow()
    except Exception as e:  # pragma: no cover - surfaced in report
        out["err"] = f"{type(e).__name__}: {e}"
        return out
    for i, field in enumerate(norm.schema):
        if not pa.types.is_floating(field.type):
            continue
        if field.name in SAFE_DECIMAL_ROUND.get(name, ()):
            out["cols"][field.name] = {"kind": "decimal-round"}
            continue
        vals = [v for v in norm.column(i).to_pylist() if v is not None]
        if not vals:
            out["cols"][field.name] = {"kind": "empty"}
            continue
        max_dec = max(decimals_used(v) for v in vals)
        if max_dec > 9:
            # full-precision double output: both engines emit the same
            # bits iff the expression order matches (the twins are
            # written for that); no round boundary exists to straddle.
            out["cols"][field.name] = {"kind": "raw-double"}
            continue
        scale = 10 ** max_dec
        # pre-round population from the identity run (same column name)
        try:
            j = ident.schema.get_field_index(field.name)
        except KeyError:  # pragma: no cover
            out["cols"][field.name] = {"kind": "missing-in-identity"}
            continue
        if pa.types.is_decimal(ident.schema.field(j).type):
            # the round input is a DECIMAL, not a double: decimal
            # rounding is exact digit arithmetic (HALF_UP away from
            # zero on both engines) with no representation boundary —
            # safe by construction regardless of halves.
            out["cols"][field.name] = {
                "kind": "decimal-round", "decimals": max_dec,
            }
            continue
        pre = [v for v in ident.column(j).to_pylist() if v is not None]
        pre_f = []
        for v in pre:
            try:
                pre_f.append(float(v))
            except (TypeError, ValueError):
                pass
        if not pre_f:
            out["cols"][field.name] = {"kind": "grid", "decimals": max_dec}
            continue
        margins = []
        on_grid = 0
        for v in pre_f:
            x = abs(v) * scale
            fr = x - math.floor(x)
            if fr == 0.0:
                on_grid += 1  # exactly representable: round is identity
                continue
            margins.append(abs(fr - 0.5))
        rec = {
            "kind": "rounded",
            "decimals": max_dec,
            "n": len(pre_f),
            "on_grid": on_grid,
            "min_margin": min(margins) if margins else None,
        }
        rec["flag"] = bool(margins and rec["min_margin"] < FLAG_MARGIN)
        out["cols"][field.name] = rec
    return out


def tie_margin_probes() -> dict[str, tuple[str, int]]:
    """VERDICT r9 ask #2: rounding-boundary audits of OUTPUT columns
    miss intermediates that gate cross-engine control flow — e.g.
    ``ivf_drift_report`` assigns clusters by argmin over a distance
    rounded to 6dp, where Spark computes the EXPANDED form
    |v|^2 - 2v·c + |c|^2 and DuckDB the direct sum((v-c)^2). Rounding
    collapses their ~1e-13 drift into exact ties (broken by lowest
    centroid id on both engines) ONLY if both forms round the same
    way — i.e. if no unrounded value sits within drift distance of a
    .5e-6 rounding half. These probes emit exactly those PRE-round
    intermediates so the main margin check certifies them on the
    actual fixtures. Returns {probe_name: (sql, decimals)}."""
    from __spark_entry__ import _kmeans_cte_sql

    ivf = f"""
WITH {_kmeans_cte_sql('SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000')},
cb AS (
  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x*x))) AS cn FROM c1
), fe AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), fv AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS vn FROM fe
)
SELECT f.vec_id, c.cid,
       list_sum(list_transform(range(1, len(f.v) + 1),
                i -> (f.v[i] - c.cv[i]) * (f.v[i] - c.cv[i]))) AS d_pre,
       list_sum(list_transform(range(1, len(f.v) + 1),
                i -> f.v[i] * c.cv[i]))
       / ((CASE WHEN f.vn = 0 THEN 1 ELSE f.vn END)
          * (CASE WHEN c.cn = 0 THEN 1 ELSE c.cn END)) AS cos_pre
FROM fv f, cb c
"""
    m = 4
    assign_tail = "\nUNION ALL\n".join(
        f"SELECT vec_id, {s} AS sub, code, d_pre FROM a1raw_{s}\n"
        f"UNION ALL\nSELECT vec_id, {s} AS sub, code, d_pre FROM kraw_{s}"
        for s in range(m)
    )
    from __spark_entry__ import _ann_ingest_codes_sql, _ivfpq_adc_batch_sql

    return {
        "ivf_drift_report.assignment": (ivf, 6),
        # streaming-ANN ingest: same 4dp argmin discipline, but the
        # residual PQ trains on the BASE slice — its own margin story
        # (no probe/LUT CTEs in this twin: coarse asgraw + subspace raws)
        "ann_ingest_stream_codes.assignment": (
            _ann_ingest_codes_sql(
                tail=(
                    "SELECT vec_id, -1 AS sub, list AS code, d_pre "
                    "FROM asgraw\nUNION ALL\n" + assign_tail
                )
            ),
            4,
        ),
        # batched IVF-PQ ADC: the corpus coarse assignment, the
        # residual training raws and the per-qid probe ranking
        # (proberaw, one row per query×list), then the per-(qid, list)
        # LUT grid — probe both
        "ivfpq_adc_batch.assignment": (
            _ivfpq_adc_batch_sql(
                tail=(
                    "SELECT vec_id, -1 AS sub, list AS code, d_pre "
                    "FROM asgraw\nUNION ALL\nSELECT qid AS vec_id, -2 AS "
                    "sub, list AS code, d_pre FROM proberaw\nUNION ALL\n"
                    + assign_tail
                )
            ),
            4,
        ),
        "ivfpq_adc_batch.lut": (
            _ivfpq_adc_batch_sql(
                tail="\nUNION ALL\n".join(
                    f"SELECT qid, list, {s} AS sub, code, ql FROM lutraw_{s}"
                    for s in range(m)
                )
            ),
            0,
        ),
    }


def fixture_fingerprint(sf_dir: str) -> dict[str, str]:
    """Content sha256 of every fixture parquet, streamed in 1 MiB
    blocks — recorded into the artifact so a FIXTURE change without a
    fresh audit run is loudly detectable (ADVICE r10: the hash-exact
    LUT guarantee is certified per fixture by measurement, so any data
    refresh must re-run the probes; tests/test_driver_contract.py pins
    artifact-vs-disk). Content, not (size, mtime): a redeploy of the
    same bytes keeps the fingerprint, one changed byte breaks it."""
    out = {}
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            h = hashlib.sha256()
            with open(os.path.join(sf_dir, fn), "rb") as f:
                for block in iter(lambda: f.read(1 << 20), b""):
                    h.update(block)
            out[fn] = h.hexdigest()
    return out


GAP_FLAG = 1e-9  # min best-vs-runner-up distance gap for UNROUNDED argmins


def gap_probes() -> dict[str, str]:
    """VERDICT r9 warning #2, second half: the kmeans-family twins
    (_kmeans_cte_sql consumers — kmeans_clusters, prototypicality,
    semdedup_prune, semdedup_greedy) argmin over UNROUNDED doubles,
    where Spark computes the expanded form and DuckDB the direct sum.
    There the dangerous quantity is not a rounding half but the GAP
    between the best and runner-up distance per vector: a gap inside
    the ~1e-13 drift class can flip the assignment across engines.
    The kmeans_assign_blas docstring claims fixtures sit orders of
    magnitude away — these probes MEASURE that claim. Each probe
    emits (vec_id, stage, cid, d_pre) for both Lloyd stages (c0 and
    c1 codebooks) over the twin's exact training corpus; the harness
    computes the min per-vector gap. Sources mirror the twins
    verbatim (kmeans_clusters/prototypicality train on the full
    embeddings; the semdedup twins add their planted dup/rotation
    rows)."""
    from __spark_entry__ import _CHAIN_THETA, _kmeans_cte_sql

    dist = (
        "list_sum(list_transform(range(1, len(e.v) + 1), "
        "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))"
    )
    tail = f"""
SELECT e.vec_id, 0 AS stage, c.cid, {dist} AS d_pre FROM e, c0 c
UNION ALL
SELECT e.vec_id, 1 AS stage, c.cid, {dist} AS d_pre FROM e, c1 c
"""
    plain = f"WITH {_kmeans_cte_sql('SELECT vec_id, embedding FROM embeddings')}\n{tail}"
    prune_src = """
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
                 list_transform(embedding,
                   x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT))
          FROM embeddings WHERE vec_id % 25 = 0
"""
    greedy_src = prune_src + f"""
          UNION ALL
          SELECT vec_id + 2000000,
                 list_concat(
                   [CAST(cos({_CHAIN_THETA!r} * ((vec_id // 25) % 8)) AS FLOAT),
                    CAST(sin({_CHAIN_THETA!r} * ((vec_id // 25) % 8)) AS FLOAT)],
                   list_transform(range(62), z -> CAST(0.0 AS FLOAT)))
          FROM embeddings WHERE vec_id % 25 = 0
"""
    prune = (
        f"WITH src AS ({prune_src}), "
        f"{_kmeans_cte_sql('SELECT * FROM src')}\n{tail}"
    )
    greedy = (
        f"WITH src AS ({greedy_src}), "
        f"{_kmeans_cte_sql('SELECT * FROM src')}\n{tail}"
    )
    return {
        "kmeans_clusters+prototypicality.gap": plain,
        "semdedup_prune.gap": prune,
        "semdedup_greedy.gap": greedy,
    }


def audit_gap_probe(sql: str, con) -> dict:
    """Min best-vs-runner-up distance gap per (vec_id, stage); flags
    any gap below GAP_FLAG. Exact zero gaps are reported separately —
    a bitwise tie is only safe when it is STRUCTURAL (identical
    centroids/vectors, equal in both engines' forms); coincidental
    ones deserve eyes."""
    out = {"err": None, "kind": "argmin-gap"}
    try:
        tbl = con.execute(sql).arrow()
    except Exception as e:  # pragma: no cover - surfaced in report
        out["err"] = f"{type(e).__name__}: {e}"
        return out
    groups: dict[tuple, list[float]] = {}
    vid = tbl.column("vec_id").to_pylist()
    stg = tbl.column("stage").to_pylist()
    dp = tbl.column("d_pre").to_pylist()
    for v, s, d in zip(vid, stg, dp):
        groups.setdefault((v, s), []).append(float(d))
    min_gap, zero_ties, n = None, 0, 0
    for ds in groups.values():
        ds.sort()
        if len(ds) < 2:
            continue
        n += 1
        gap = ds[1] - ds[0]
        if gap == 0.0:
            zero_ties += 1
            continue
        if min_gap is None or gap < min_gap:
            min_gap = gap
    out.update(
        {
            "n_vectors": n,
            "zero_ties": zero_ties,
            "min_gap": min_gap,
            "flag": bool(
                (min_gap is not None and min_gap < GAP_FLAG) or zero_ties
            ),
        }
    )
    return out


def audit_probe(sql: str, decimals: int, con) -> dict:
    """Margin-check every float column of a pre-round probe at the
    given rounding scale (same margin formula as the main audit)."""
    import pyarrow as pa

    out = {"cols": {}, "err": None, "kind": "tie-margin-probe"}
    try:
        tbl = con.execute(sql).arrow()
    except Exception as e:  # pragma: no cover - surfaced in report
        out["err"] = f"{type(e).__name__}: {e}"
        return out
    scale = 10 ** decimals
    for i, field in enumerate(tbl.schema):
        if not pa.types.is_floating(field.type):
            continue
        margins, on_grid = [], 0
        vals = [v for v in tbl.column(i).to_pylist() if v is not None]
        for v in vals:
            x = abs(float(v)) * scale
            fr = x - math.floor(x)
            if fr == 0.0:
                on_grid += 1
                continue
            margins.append(abs(fr - 0.5))
        rec = {
            "kind": "rounded",
            "decimals": decimals,
            "n": len(vals),
            "on_grid": on_grid,
            "min_margin": min(margins) if margins else None,
        }
        rec["flag"] = bool(margins and rec["min_margin"] < FLAG_MARGIN)
        out["cols"][field.name] = rec
    return out


def main():
    sf_dir = (sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01").rstrip("/")
    only = set(sys.argv[2:])

    import __spark_entry__ as E

    oracles = E.oracle_sql()

    con_norm = connect(sf_dir, identity_round=0)
    con_ident = connect(sf_dir, identity_round=2)
    con_ident1 = connect(sf_dir, identity_round=1)

    report = {}
    flagged = []
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        rec = audit_entry(name, sql, con_norm, con_ident, con_ident1)
        rec["tier"] = "registered"
        rounded = {
            c: d for c, d in rec["cols"].items() if d.get("kind") == "rounded"
        }
        if rec["err"]:
            print(f"{name:34s} ERROR {rec['err'][:80]}")
        elif rounded:
            worst = min(
                (d["min_margin"] for d in rounded.values() if d["min_margin"] is not None),
                default=None,
            )
            flags = [c for c, d in rounded.items() if d.get("flag")]
            status = "FLAG " + ",".join(flags) if flags else "ok"
            wm = f"{worst:.3e}" if worst is not None else "all-on-grid"
            print(
                f"{name:34s} {len(rounded)} rounded col(s), "
                f"min margin {wm}  {status}"
            )
            if flags:
                flagged.append(name)
        report[name] = rec

    for name, (sql, decimals) in sorted(tie_margin_probes().items()):
        if only and name.split(".")[0] not in only and name not in only:
            continue
        rec = audit_probe(sql, decimals, con_norm)
        rec["tier"] = "probe"
        if rec["err"]:
            print(f"{name:34s} ERROR {rec['err'][:80]}")
        else:
            worst = min(
                (d["min_margin"] for d in rec["cols"].values()
                 if d.get("min_margin") is not None),
                default=None,
            )
            flags = [c for c, d in rec["cols"].items() if d.get("flag")]
            status = "FLAG " + ",".join(flags) if flags else "ok"
            wm = f"{worst:.3e}" if worst is not None else "all-on-grid"
            print(
                f"{name:34s} probe: {len(rec['cols'])} col(s), "
                f"min margin {wm}  {status}"
            )
            if flags:
                flagged.append(name)
        report[name] = rec

    for name, sql in sorted(gap_probes().items()):
        if only and name.split(".")[0] not in only and name not in only:
            continue
        rec = audit_gap_probe(sql, con_norm)
        rec["tier"] = "probe"
        if rec["err"]:
            print(f"{name:34s} ERROR {rec['err'][:80]}")
        else:
            mg = rec["min_gap"]
            mgs = f"{mg:.3e}" if mg is not None else "n/a"
            status = "FLAG" if rec["flag"] else "ok"
            print(
                f"{name:34s} gap probe: {rec['n_vectors']} vecs, "
                f"min gap {mgs}, zero ties {rec['zero_ties']}  {status}"
            )
            if rec["flag"]:
                flagged.append(name)
        report[name] = rec

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "round_audit.json")
    with open(path, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "flag_margin": FLAG_MARGIN,
                "fixtures": fixture_fingerprint(sf_dir),
                "partial": sorted(only) if only else None,
                "entries": report,
            },
            f,
            indent=1,
        )
    print(f"\nwrote {path}; flagged entries: {flagged or 'none'}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())

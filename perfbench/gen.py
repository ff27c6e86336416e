"""Seeded input generators. Everything a workload feeds the engine is
made here from ``--seed`` before the clock starts; the engine sees only
the parquet files and the parameter lists these functions return.

- ``procurement``: the FIXTURES.md §A1 procurement table (budgets above
  int32, substring-trap keyword pairs, skewed departments and dates)
  plus its ~1.5k-entry keyword vocabulary.
- ``write_sf``: the sf fixtures' star schema and ``documents``
  table (same column names and types as the sf fixtures), at a chosen
  scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Substring traps from the reference data (SURVEY.md §1.4): the short
# token is a substring of the long one, so LIKE '%alat%' also hits
# rows tagged only 'peralatan'.
TRAP_PAIRS = (
    ("alat", "peralatan"),
    ("gedung", "gedungnya"),
    ("jalan", "perjalanan"),
    ("bangun", "bangunan"),
    ("rawat", "perawatan"),
    ("kerja", "pekerjaan"),
    ("tanah", "tanahnya"),
    ("air", "airnya"),
)
_SYLLABLES = (
    "ba be bi bu da de di du ga ge gi gu ha ja ka ke ki ku la le li lu "
    "ma me mi mu na ne ni nu pa pe pi pu ra re ri ru sa se si su ta te "
    "ti tu wa ya an in un ang eng ing ung"
).split()
SATKER = (
    "Dinas Pekerjaan Umum",
    "Dinas Kesehatan",
    "Dinas Pendidikan",
    "Dinas Perhubungan",
    "Sekretariat Daerah",
)
_SATKER_W = np.array([288, 240, 200, 160, 128], dtype=float)
# The sf fixtures' 31-word document vocabulary.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "de", "es", "fr", "zh")
_DOC_LANG_W = np.array([0.4, 0.15, 0.15, 0.15, 0.15])


def write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def keyword_vocab(rng: np.random.Generator, n: int = 1500) -> list[str]:
    """``n`` distinct lowercase tokens, trap pairs included."""
    vocab: set[str] = {w for pair in TRAP_PAIRS for w in pair}
    while len(vocab) < n:
        k = int(rng.integers(2, 5))
        vocab.add("".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k)))
    return sorted(vocab)


def procurement(rng: np.random.Generator, n_rows: int, vocab: list[str]) -> pa.Table:
    """The §A1 ``pengadaan`` table. Keyword popularity is Zipf-like over
    a seed-shuffled vocabulary order."""
    ids = np.unique(rng.integers(10_000_000, 100_000_000, int(n_rows * 1.2)))
    ids = rng.permutation(ids)[:n_rows]
    order = rng.permutation(len(vocab))
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    n_kw = rng.integers(2, 9, n_rows)
    flat = order[rng.choice(len(vocab), int(n_kw.sum()), p=weights)]
    kws, names, texts, specs = [], [], [], []
    pos = 0
    for i in range(n_rows):
        toks = [vocab[j] for j in flat[pos : pos + n_kw[i]]]
        pos += n_kw[i]
        kws.append(",".join(toks))
        names.append(f"Pengadaan {toks[0].title()} {toks[-1].title()}")
        body = f"Pekerjaan {toks[0]} untuk {toks[1]}.\r\nLokasi: Kota Bandung\r\n" + " ".join(toks)
        texts.append(body)
        specs.append(body if rng.random() < 0.7 else f"Spesifikasi {toks[-1]}\r\n{body}")
    pagu = np.floor(np.exp(rng.uniform(np.log(11), np.log(5.4e9), n_rows))).astype(np.int64)
    # dates 2023-12-27 .. 2024-10-08, skewed to 2024-01; timestamps are
    # drawn from a pool a third the table's size so many rows share one
    start = np.datetime64("2023-12-27T00:00:00", "us")
    span_days = 286
    pool_days = np.where(
        rng.random(n_rows // 3 + 1) < 0.4,
        rng.integers(5, 36, n_rows // 3 + 1),
        rng.integers(0, span_days, n_rows // 3 + 1),
    )
    pool = start + pool_days * np.timedelta64(86_400_000_000, "us") + rng.integers(
        8 * 3600, 17 * 3600, pool_days.size
    ) * np.timedelta64(1_000_000, "us")
    ts = pool[rng.integers(0, pool.size, n_rows)]
    satker = np.array(SATKER)[rng.choice(len(SATKER), n_rows, p=_SATKER_W / _SATKER_W.sum())]
    return pa.table(
        {
            "kode_rup": pa.array(ids, pa.int64()),
            "nama_paket": names,
            "nama_klpd": ["Kota Bandung"] * n_rows,
            "satuan_kerja": satker.tolist(),
            "uraian_pekerjaan": texts,
            "spesifikasi_pekerjaan": specs,
            "total_pagu": pa.array(pagu, pa.int64()),
            "tanggal_umumkan_paket": pa.array(ts, pa.timestamp("us")),
            "filtered_keywords": kws,
        }
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype(np.int64) * np.timedelta64(86_400_000_000, "us")


def documents(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    n = ids.size
    lens = rng.integers(5, 100, n)
    words = rng.integers(0, len(DOC_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(DOC_WORDS[j] for j in words[pos : pos + k]))
        pos += k
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": np.array(DOC_LANGS)[rng.choice(5, n, p=_DOC_LANG_W)].tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_sf(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """The sf fixtures' star schema + ``events`` + ``documents`` at scale
    ``sf`` (row counts scale like the sf fixtures: 1.5M orders per unit)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(20, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_user = max(100, int(15_000 * sf))
    w = lambda name, t: write_parquet(os.path.join(out_dir, f"{name}.parquet"), t)  # noqa: E731
    w("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)
        ].tolist(),
    }))
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])].tolist(),
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days("1995-01-01", odate), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)
        ].tolist(),
    }))
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n_li = okey.size
    qty = rng.integers(1, 51, n_li).astype(float)
    w("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(_days("1995-01-01", odate[okey] + rng.integers(1, 122, n_li)), pa.timestamp("us")),
    }))
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    w("events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[rng.integers(0, 5, n_ev)].tolist(),
        "value": _money(rng, 0.0, 200.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    w("documents", documents(rng, np.arange(n_doc)))


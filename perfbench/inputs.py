"""Seeded input generators for the benchmark workloads.

Everything the engine reads is made here, from a seed, inside the working
directory — the benchmark never depends on data outside its checkout.

* ``write_tables`` writes the ten fixture tables the query registry reads
  (TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), one single-row-group parquet file each, with the same
  column names, types and value domains as the project's test fixtures.
* ``clone`` turns ``lineitem`` and ``orders`` into directories of ``copies``
  part files.  Copy ``i`` offsets ``l_orderkey``/``o_orderkey`` by
  ``i * n_orders`` in BOTH tables, so every join key, every
  ``(l_orderkey, l_linenumber)`` pair and every window order stays unique
  and the DuckDB oracles remain value-exact.  Dimension tables are shared.
* ``tickers`` draws the daily_etl ticker set.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed data seed for the TPC-H/corpus tables: the workload seed orders the
#: operations, it does not change the data those operations read.
DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()

_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, table.num_rows))
    return os.path.getsize(path)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    # Line numbers run 1..k within each order, so (l_orderkey, l_linenumber)
    # is unique; rows are then shuffled so the file is not key-ordered.
    okey = np.sort(rng.integers(0, n_orders, n))
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n]))
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    perm = rng.permutation(n)
    return pa.table({
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": linenumber[perm],
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents of 10..49 words; 5% are an earlier or later
    document plus a trailing ``dup`` token, the near-duplicates the dedup
    operators look for."""
    vocab = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 50, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n - 1))) % n] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vec = rng.standard_normal((n, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_tables(out_dir: str, sf: float, seed: int = DATA_SEED) -> dict[str, dict[str, int]]:
    """Write the ten fixture tables at scale factor ``sf`` into ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": b}}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    size = _sizes(sf)
    n_cust, n_supp, n_part = size["customer"], size["supplier"], size["part"]
    n_ord, n_li, n_ev = size["orders"], size["lineitem"], size["events"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": _lineitem(rng, n_li, n_ord, n_part, n_supp),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
                + np.datetime64("2024-01-01", "us").astype(np.int64),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, size["documents"]),
        "embeddings": _embeddings(rng, size["embeddings"]),
    }
    return {
        name: {"rows": t.num_rows, "bytes": _write(os.path.join(out_dir, f"{name}.parquet"), t)}
        for name, t in tables.items()
    }


def clone(sf_dir: str, copies: int, stats: dict[str, dict[str, int]]) -> None:
    """Replace ``lineitem.parquet`` and ``orders.parquet`` by directories of
    ``copies`` part files with per-copy orderkey offsets (see module doc).
    Updates ``stats`` in place."""
    n_orders = stats["orders"]["rows"]
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        path = os.path.join(sf_dir, f"{name}.parquet")
        base = pq.read_table(path)
        os.remove(path)
        os.makedirs(path)
        keys = base.column(key).to_numpy()
        nbytes = 0
        for i in range(copies):
            part = base.set_column(
                base.schema.get_field_index(key), key, pa.array(keys + i * n_orders)
            )
            nbytes += _write(os.path.join(path, f"part-{i:03d}.parquet"), part)
        stats[name] = {"rows": base.num_rows * copies, "bytes": nbytes}


def tickers(seed: int, n: int) -> list[str]:
    """``n`` distinct B3-style ticker symbols (four letters + class digit)."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        sym = "".join(rng.choice(letters, 4)) + str(rng.choice([3, 4, 5, 6, 11]))
        if sym not in seen:
            seen.add(sym)
            out.append(sym)
    return out


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)

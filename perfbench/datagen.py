"""Deterministic synthetic inputs in the engine's ten-table schema.

The generator reproduces the column types, value domains and
cardinalities of the provided test tables described in FIXTURES.md (a
TPC-H-like star plus ``events``, ``documents`` and ``embeddings``),
using numpy and pyarrow only. The base tables come from a fixed
internal seed, so every benchmark seed sees the same rows; the
benchmark seed only picks the order in which keys run. The replicated
(``xN``) directory is built once per checkout: building it per seed
would add 5-9 s to every run of the workload that reads it.

Every table is one parquet file, as in the provided test data, so
``tables.load`` (Spark) and ``selfcheck.duck_con`` (DuckDB) read the
same files. A replicated table keeps one row group per replica, which
lets Spark split the scan across tasks.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
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
# Replicated tables and the key columns shifted per replica; the other
# tables are copied through at base size (dimension tables, as in
# scripts/scale_rehearsal.py).
REPLICATED = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
# replica r's keys are shifted by r * REPLICA_SPAN, past every base key
REPLICA_SPAN = 10_000_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days + 1
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (0.1 gives 600k lineitem
    rows), all drawn from one fixed-seed generator."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vec = max(500, round(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.asarray(_VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[cuts[i] : cuts[i + 1]]) for i in range(n_docs)]
    # a few exact and near duplicates, as dedup keys expect
    n_dup = max(1, n_docs // 600)
    src = rng.choice(n_docs // 2, 2 * n_dup, replace=False)
    dst = n_docs // 2 + rng.choice(n_docs - n_docs // 2, 2 * n_dup, replace=False)
    for i, (s, d) in enumerate(zip(src, dst)):
        texts[d] = texts[s] if i < n_dup else texts[s] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return out


def _publish(tmp: Path, out: Path) -> None:
    # the directory appears whole or not at all, so an interrupted
    # build is never mistaken for a finished one
    if out.exists():
        shutil.rmtree(out)
    os.replace(tmp, out)


def write_base(out: Path, sf: float) -> Path:
    """Write the base tables to ``out`` unless already there."""
    if out.is_dir():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in base_tables(sf).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    _publish(tmp, out)
    return out


def write_replicated(base: Path, out: Path, mult: int) -> Path:
    """Write ``mult`` copies of each replicated base table, copy r with
    its key columns shifted by r * REPLICA_SPAN and stored as one row
    group, to ``out`` unless already there."""
    if out.is_dir():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    offsets = [r * REPLICA_SPAN for r in range(mult)]
    for name in TABLES:
        src = base / f"{name}.parquet"
        if name not in REPLICATED:
            shutil.copyfile(src, tmp / f"{name}.parquet")
            continue
        table = pq.read_table(src)
        with pq.ParquetWriter(tmp / f"{name}.parquet", table.schema) as writer:
            for off in offsets:
                shifted = table
                for col in REPLICATED[name]:
                    i = shifted.schema.get_field_index(col)
                    moved = pc.add(shifted.column(col), pa.scalar(off, pa.int64()))
                    shifted = shifted.set_column(i, col, moved)
                writer.write_table(shifted)
    _publish(tmp, out)
    return out

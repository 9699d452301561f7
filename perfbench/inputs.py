"""Seeded benchmark inputs: the star-schema, events, documents and
embeddings tables the registry entries read, written as parquet.

The table contents are a fixed function of the scale factor (generated
from an internal constant seed), so cardinalities and oracle results do
not depend on the run. The run's ``--seed`` only permutes the row order
and moves the row-group boundaries inside each file; the number of row
groups per table is fixed so the program's scan-width decisions
(``sources/tables.py``) do not change with the seed.

Shapes follow the TPC-H-ish test tables of TESTDATA.md: same columns and
types, rows per table proportional to the scale factor (lineitem has
6M x sf rows), a 30-word document vocabulary with 5 % near-duplicates
(an earlier document plus " dup") and a few exact duplicates.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Constant seed for the table contents (the run seed only lays them out).
CONTENT_SEED = 20151

#: Rows per row group before the seeded jitter; tables smaller than this
#: are one row group, as the TESTDATA.md files are.
ROW_GROUP_ROWS = 1 << 17

_VOCAB = (
    "a the data row column table key value hash sort merge join group agg "
    "filter scan query stream window batch vector line part order customer "
    "spark fast slow big small"
).split()
_ADJ = ("large", "small", "hot", "cold", "blue", "red", "old", "new")
_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")


def _us(day: dt.date) -> int:
    return int(
        (dt.datetime(day.year, day.month, day.day) - dt.datetime(1970, 1, 1))
        .total_seconds() * 1_000_000
    )


def _ts(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    n_dup = n // 20
    dup_at = set(rng.choice(np.arange(n // 10, n), n_dup, replace=False).tolist())
    exact_at = set(
        rng.choice(np.arange(n // 10, n), max(1, n // 600), replace=False).tolist()
    ) - dup_at
    for i in range(n):
        if i in dup_at or i in exact_at:
            src = texts[int(rng.integers(0, n // 10))]
            texts.append(src if i in exact_at else src + " dup")
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(sf: float) -> dict[str, pa.Table]:
    """The tables at scale factor ``sf``; identical for every call."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ev_start = _us(dt.date(2024, 1, 1))
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + ev_start
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32)),
    })
    return out


def _row_group_cuts(rng, n: int) -> list[int]:
    """Row-group boundaries: a count fixed by ``n``, each boundary moved
    by up to a twentieth of a group by the seed."""
    groups = max(1, -(-n // ROW_GROUP_ROWS))
    size = n / groups
    cuts = [
        int(round(i * size + rng.uniform(-0.05, 0.05) * size)) for i in range(1, groups)
    ]
    return [0, *cuts, n]


def write_inputs(dst: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``dst/<table>.parquet`` laid out by ``seed``;
    returns the row count per table."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}
    for name, table in make_tables(sf).items():
        n = table.num_rows
        table = table.take(pa.array(rng.permutation(n)))
        cuts = _row_group_cuts(rng, n)
        with pq.ParquetWriter(os.path.join(dst, f"{name}.parquet"), table.schema) as w:
            for lo, hi in zip(cuts, cuts[1:]):
                w.write_table(table.slice(lo, hi - lo), row_group_size=hi - lo)
        rows[name] = n
    return rows

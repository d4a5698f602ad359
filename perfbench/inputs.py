"""Benchmark inputs, generated deterministically inside the checkout.

The benchmark may read only its own checkout, so it cannot use an
external testdata directory. It writes the same TPC-H-shaped tables the
package's readers expect (``customer``, ``supplier``, ``part``,
``orders``, ``lineitem``) plus the ``documents`` corpus the dedup
queries read, one parquet file each, with the column names and types of
the repository's testdata.

The data is fixed: it depends only on the scale and ``GEN_SEED``, never
on the run's ``--seed`` (which orders the operations). So it is generated once per checkout and scale and cached
under the work directory, keyed by this file's content.

Two properties the workload checks rely on are guaranteed here:

- every ``o_custkey`` names a customer and suppliers 1..100 exist, so
  every inner join of the HIS extraction keeps every order
  (``his_synth`` maps scheduling users 1..100 onto suppliers 1..100);
- every order has 1-7 line items with distinct line numbers, so the
  extraction fans each order out to ``min(lines, 2)`` rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

SCALES = {"sf0.1": 0.1, "sf0.01": 0.01, "sf0.001": 0.001}

TABLES = ("customer", "supplier", "part", "orders", "lineitem", "documents")

_VOCAB = (
    "a the data row column table key value scan filter join group agg "
    "sort hash merge window stream batch query spark vector order line "
    "part customer small big fast slow"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "small", "dark", "light", "red", "green"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH = dt.datetime(1995, 1, 1)
_N_DAYS = (dt.datetime(2001, 8, 1) - _EPOCH).days + 1


def _ts(days: np.ndarray) -> pa.Array:
    micros = days.astype("int64") * 86_400_000_000 + int(
        (_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences with planted near-duplicates (10%) and
    exact duplicates (1%), so every dedup strategy finds pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 10 and r < 0.11:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
        else:
            length = int(rng.integers(8, 101))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), length)]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype="int64")
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def generate(out_dir: str, sf: float) -> None:
    """Write every table of ``TABLES`` as ``{out_dir}/{name}.parquet``."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(101, int(10_000 * sf))
    n_part = max(201, int(200_000 * sf))
    n_ord = int(1_500_000 * sf)
    n_docs = int(50_000 * sf)

    tables: dict[str, pa.Table] = {}
    ck = np.arange(n_cust, dtype="int64")
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    sk = np.arange(n_supp, dtype="int64")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(_ADJ), n_part),
                    rng.integers(0, len(_NOUN), n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )
    ok = np.arange(n_ord, dtype="int64")
    order_day = rng.integers(0, _N_DAYS, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 400_000, n_ord),
            "o_orderdate": _ts(order_day),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }
    )
    n_lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(ok, n_lines)
    l_number = (
        np.arange(len(l_order)) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    ).astype("int32")
    n_li = len(l_order)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": l_number,
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
            "l_shipdate": _ts(np.repeat(order_day, n_lines) + rng.integers(1, 122, n_li)),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def inputs_key(scale: str) -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read() + scale.encode()).hexdigest()[:16]


def ensure_inputs(work: str, scale: str) -> str:
    """Return the directory holding this scale's tables, generating it
    on first use. Generation writes to a temporary directory that is
    renamed into place, so an interrupted run never leaves a partial
    cache behind."""
    final = os.path.join(work, f"data-{scale}-{inputs_key(scale)}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp, SCALES[scale])
    os.rename(tmp, final)
    return final

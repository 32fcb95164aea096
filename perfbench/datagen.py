"""Deterministic synthetic input tables for the benchmark.

The engine's query callables read TPC-H-shaped parquet tables
(``customer``, ``part``, ``orders``, ``lineitem``) plus a ``documents``
corpus; the SSURGO tables are synthesized from them inside the engine
(``_qcore.ssurgo_synth``). This module writes those five tables at a
given scale factor with the same schemas and value distributions as
the test tables described in TESTDATA.md, using numpy + pyarrow only
(no Spark), so a fresh checkout can build its own inputs.

The base tables do not depend on the benchmark seed: a seed only
permutes request order and offsets the keys of the nightly replica
(``build_replica``), so every seed sees inputs of the same size and
shape.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# fixed generator seed: base tables are identical for every run
BASE_SEED = 42
TABLES = ("customer", "part", "orders", "lineitem", "documents")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RFLAG = ["A", "N", "R"]
_LSTATUS = ["F", "O"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_LANGS = ["en", "en", "de", "es", "fr", "zh", "en", "en"]  # ~40% en


def _days(rng, n, start, end):
    """``n`` naive timestamps at day granularity in [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    off = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + off, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _documents(rng, n: int) -> pa.Table:
    """Word-salad corpus over a 31-token vocabulary with planted
    near-duplicates (an earlier document plus one or two ``dup``
    tokens) and a few exact copies — the shape the dedup, simhash and
    dsir operators are built for."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(out_dir: str, sf: float) -> None:
    """Write the five tables at scale factor ``sf`` into ``out_dir``
    (one ``<table>.parquet`` file each). Row counts follow TPC-H:
    150k customers, 200k parts, 1.5M orders and 6M lineitems per unit
    of ``sf``; the corpus has max(500, 50k*sf) documents."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    os.makedirs(out_dir, exist_ok=True)

    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, _STATUS, n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(
                rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": _pick(rng, _PRIO, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, _RFLAG, n_li),
            "l_linestatus": _pick(rng, _LSTATUS, n_li),
            "l_shipdate": _days(
                rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
            ),
        }
    )
    tables = dict(
        customer=customer,
        part=part,
        orders=orders,
        lineitem=lineitem,
        documents=_documents(rng, n_doc),
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def build_replica(
    base_dir: str, out_dir: str, seed: int, copies: int = 10, files: int = 32
) -> None:
    """The nightly replica: ``orders`` and ``lineitem`` replicated
    ``copies`` times with shifted order/customer keys, written as
    ``files`` part files each (the layout of ``bench.py``'s scale10
    replica); the other tables are copied unchanged. The seed picks the
    key offset, so each seed rates a different key assignment of
    the same size."""
    orders = pq.read_table(os.path.join(base_dir, "orders.parquet"))
    li = pq.read_table(os.path.join(base_dir, "lineitem.parquet"))
    maxo = int(pc.max(orders["o_orderkey"]).as_py()) + 1
    maxc = int(pc.max(orders["o_custkey"]).as_py()) + 1
    off_o = (seed % 997) * maxo * copies
    off_c = (seed % 997) * maxc * copies

    def shifted(t, cols):
        parts = []
        for rep in range(copies):
            cur = t
            for col, step, off in cols:
                i = cur.column_names.index(col)
                cur = cur.set_column(
                    i, col, pc.add(cur[col], off + rep * step)
                )
            parts.append(cur)
        return pa.concat_tables(parts)

    big = {
        "orders": shifted(
            orders,
            [("o_orderkey", maxo, off_o), ("o_custkey", maxc, off_c)],
        ),
        "lineitem": shifted(li, [("l_orderkey", maxo, off_o)]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in big.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        # shuffle rows across part files the way repartition(32) does,
        # deterministically, so no file holds a single replica
        order = np.random.default_rng(seed).permutation(t.num_rows)
        t = t.take(pa.array(order))
        step = -(-t.num_rows // files)
        for k in range(files):
            pq.write_table(
                t.slice(k * step, step), os.path.join(d, f"part-{k:05d}.parquet")
            )
    for name in TABLES:
        if name not in big:
            shutil.copyfile(
                os.path.join(base_dir, f"{name}.parquet"),
                os.path.join(out_dir, f"{name}.parquet"),
            )

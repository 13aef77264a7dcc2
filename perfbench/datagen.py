"""Seeded generators for the benchmark's parquet inputs.

Every table is written with the schema of the engine's catalog
(``py_etl_pipeline_woocommerce_spark.catalog.TABLES``), so the
dashboard and curation queries run on it unchanged. Row counts follow
the catalog's scale factor: ``sf=0.1`` gives 150k orders and about
600k line items.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH0 = datetime(1995, 1, 1)
_DAYS = (datetime(2001, 8, 1) - _EPOCH0).days + 1
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "small", "red", "dark", "light", "steel"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "plate", "spring", "valve"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _write(table: pa.Table, path: str, order: np.ndarray | None = None) -> None:
    if order is not None:
        table = table.take(pa.array(order))
    pq.write_table(table, path)


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH0, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def star_schema(
    out_dir: str, sf: float, seed: int, layout_seed: int | None = None,
    facts_only: bool = False,
) -> dict:
    """Write region, nation, customer, supplier, part, orders and
    lineitem under ``out_dir`` (one ``<table>.parquet`` file each).
    Returns the row counts. The rows come from ``seed``; ``layout_seed``
    (default ``seed``) permutes the line items' order in their file.
    ``facts_only`` writes orders and lineitem alone."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    path = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    if not facts_only:
        _write(
            pa.table(
                {
                    "r_regionkey": pa.array(np.arange(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                }
            ),
            path("region"),
        )
        _write(
            pa.table(
                {
                    "n_nationkey": pa.array(np.arange(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
                }
            ),
            path("nation"),
        )
        _write(
            pa.table(
                {
                    "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                    "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                    "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                    "c_mktsegment": pa.array(
                        np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]
                    ),
                }
            ),
            path("customer"),
        )
        _write(
            pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                    "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                    "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
                }
            ),
            path("supplier"),
        )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    if not facts_only:
        names = np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n_part)],
        )
        _write(
            pa.table(
                {
                    "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                    "p_name": pa.array(names),
                    "p_brand": pa.array(
                        np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))
                    ),
                    "p_type": pa.array(np.array(_TYPES)[rng.integers(0, 6, n_part)]),
                    "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                    "p_retailprice": retail,
                }
            ),
            path("part"),
        )

    odays = rng.integers(0, _DAYS, n_ord)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": np.round(rng.uniform(1_000.0, 450_000.0, n_ord), 2),
                "o_orderdate": _ts(odays),
                "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
            }
        ),
        path("orders"),
    )

    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_ord), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = np.arange(n_li) - starts + 1
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(pkey, pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(linenumber, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * retail[pkey], 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_li)),
            }
        ),
        path("lineitem"),
        order=np.random.default_rng(
            seed if layout_seed is None else layout_seed
        ).permutation(n_li),
    )
    return {"orders": n_ord, "lineitem": n_li, "part": n_part}


def documents(out_dir: str, n_docs: int, seed: int, layout_seed: int) -> int:
    """Write ``documents.parquet``: ``n_docs`` bag-of-words documents
    over a 30-word vocabulary (10-100 words each), 5% of them a copy
    of an earlier document plus one token (near duplicates) and 0.2%
    exact copies. The rows come from ``seed``; ``layout_seed`` only
    permutes their order in the file."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    langs = np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)]
    sources = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    order = np.random.default_rng(layout_seed).permutation(n_docs)
    _write(table, os.path.join(out_dir, "documents.parquet"), order=order)
    return n_docs

"""Seeded input generators for the three workloads.

Everything here is a pure function of a ``numpy.random.Generator``, so the
same ``--seed`` gives byte-identical inputs. The package under test only
ever sees the frames and parquet files built here.

The star-schema tables follow the column names and types of the driver's
TPC-H-style test data (``nation customer orders lineitem events documents
embeddings``) at roughly sf0.01: the tables the twelve ``query_mix``
queries read.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BAR_START = pd.Timestamp("2024-01-02")
SHIP_START = pd.Timestamp("1995-01-02")
SHIP_DAYS = 2500

#: the corpus vocabulary; it includes the four bm25 query terms
#: (spark, query, window, vector)
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark sort line window data column join small customer query big "
    "stream order group filter vector"
).split()


def bars(rng: np.random.Generator, n: int, start: pd.Timestamp) -> pd.DataFrame:
    """``n`` one-second OHLCV bars from ``start``; index named ``index``."""
    close = 100.0 + np.cumsum(rng.normal(0.0, 0.05, n))
    spread = np.abs(rng.normal(0.0, 0.02, n))
    df = pd.DataFrame(
        {
            "open": np.round(close + rng.normal(0.0, 0.01, n), 4),
            "high": np.round(close + spread, 4),
            "low": np.round(close - spread, 4),
            "close": np.round(close, 4),
            "volume": rng.integers(1, 10_000, n).astype("int64"),
        },
        index=pd.date_range(start, periods=n, freq="s", name="index"),
    )
    return df


def lineitem(rng: np.random.Generator, n_orders: int) -> pd.DataFrame:
    """A lineitem fact with 1-7 lines per order and a unique time
    ``index`` (ship date plus a sub-second offset from the unique
    ``(l_orderkey, l_linenumber)`` pair), so keep_last upserts and
    merges on ``index`` are row-level."""
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype("int32")
    n = len(okey)
    qty = rng.integers(1, 51, n).astype("float64")
    ship = np.datetime64(SHIP_START, "us") + rng.integers(
        0, SHIP_DAYS, n
    ).astype("timedelta64[D]")
    df = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, 2000, n).astype("int64"),
            "l_suppkey": rng.integers(0, 100, n).astype("int64"),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": ship,
        }
    )
    return df


def with_unique_index(li: pd.DataFrame) -> pd.DataFrame:
    """``bench.py``'s storage-cycle key: ship date plus
    ``l_orderkey * 10 + l_linenumber`` microseconds; drops the date."""
    out = li.drop(columns=["l_shipdate"])
    out["index"] = li["l_shipdate"] + pd.to_timedelta(
        li["l_orderkey"] * 10 + li["l_linenumber"], unit="us"
    )
    return out


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def star_schema(rng: np.random.Generator, sf: float = 0.01) -> dict[str, pa.Table]:
    """The tables the query mix reads, sized like the driver's ``sf``."""
    n_cust = int(150_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(50_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                np.array(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"]
                ),
                n_cust,
            ),
        }
    )
    odate = np.datetime64("1995-01-01", "us") + rng.integers(
        0, 2404, n_orders
    ).astype("timedelta64[D]")
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"]
                ),
                n_orders,
            ),
        }
    )
    li = lineitem(rng, n_orders)
    tables["lineitem"] = pa.Table.from_pandas(li, preserve_index=False).cast(
        pa.schema(
            [
                f if f.name != "l_shipdate" else pa.field(
                    "l_shipdate", pa.timestamp("us")
                )
                for f in pa.Schema.from_pandas(li, preserve_index=False)
            ]
        )
    )
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400 * 10**6, n_events).astype(
            "timedelta64[us]"
        )
    )
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_cust // 10, n_events).astype("int64"),
            "event_type": rng.choice(
                np.array(["click", "view", "error", "signup", "purchase"]),
                n_events,
            ),
            "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = _texts(rng, n_docs)
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(np.array(["en", "de", "es", "fr", "zh"]), n_docs),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centers[label] + rng.normal(0.0, 0.6, (n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype("int32"),
        }
    )
    return tables


def write_tables(tables: dict[str, pa.Table], out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")

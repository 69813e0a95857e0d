"""Seeded input generator for the benchmark workloads.

Everything the library receives is made here from ``--seed``: the
document corpus (``documents.parquet``, shaped like the sf0.1 table:
Zipf vocabulary, 5 languages, 20 sources, ``n_chars`` = text length),
the arrival batches streamed into the index, the query stream, and the
ten tables the registry entries read, shaped like the sf testdata. The
same seed gives byte-identical files; nothing here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)  # the sf0.1 language mix
N_SOURCES = 20
VOCAB_SIZE = 2000
ZIPF_S = 1.1

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

_SYLLABLES = (
    "ka ro mi sen ta lu vor pe dra ni qua zel to bi fen ma ur so li ga "
    "ten hu ra po de"
).split()


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """Fixed pronounceable vocabulary; rank i is the i-th word."""
    n = len(_SYLLABLES)
    words = []
    for i in range(size):
        a, b, c = i % n, (i // n) % n, i // (n * n)
        words.append(_SYLLABLES[a] + _SYLLABLES[b] + ("" if c == 0 else _SYLLABLES[c % n]))
    return words


def _zipf_p(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
    return p / p.sum()


def documents(rng: np.random.Generator, start_id: int, n: int) -> pa.Table:
    """``n`` documents with dense ids from ``start_id``."""
    vocab = np.asarray(vocabulary())
    lengths = rng.integers(6, 60, size=n)
    tokens = vocab[rng.choice(len(vocab), size=int(lengths.sum()), p=_zipf_p(len(vocab)))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(tokens[bounds[i]:bounds[i + 1]]) for i in range(n)]
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    sources = [f"src{s}" for s in rng.integers(0, N_SOURCES, size=n)]
    return pa.table(
        {
            "doc_id": np.arange(start_id, start_id + n, dtype="int64"),
            "text": texts,
            "lang": langs.tolist(),
            "source": sources,
            "n_chars": np.asarray([len(t) for t in texts], dtype="int64"),
        },
        schema=DOC_SCHEMA,
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def corpus(root: str, seed: int, n_docs: int) -> str:
    """Write ``root/documents.parquet``; returns ``root`` (an sf-style dir)."""
    write(documents(np.random.default_rng([seed, 1]), 0, n_docs), f"{root}/documents.parquet")
    return root


def arrival(path: str, seed: int, batch: int, n_docs: int, start_id: int) -> int:
    """Write arrival batch ``batch`` (``n_docs`` documents with ids from
    ``start_id``) as one parquet file; returns its size in bytes."""
    write(documents(np.random.default_rng([seed, 2, batch]), start_id, n_docs), path)
    return os.path.getsize(path)


def queries(seed: int):
    """The endless query stream: text, soft-filter language set and
    ``n_chars`` range per query."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.asarray(vocabulary())
    p = _zipf_p(len(vocab))
    i = 0
    while True:
        words = vocab[rng.choice(len(vocab), size=int(rng.integers(2, 6)), p=p)]
        langs = sorted(rng.choice(LANGS, size=int(rng.integers(1, 4)), replace=False).tolist())
        lo = float(rng.integers(30, 300))
        hi = lo + float(rng.integers(60, 250))
        yield {
            "id": i,
            "text": " ".join(words),
            "aux": {
                "lang": ((langs, False), float(rng.choice([1.5, 2.0, 4.0]))),
                "source": (None, 1.0),
                "n_chars": ((lo, hi, False), float(rng.choice([1.0, 1.5, 3.0]))),
            },
        }
        i += 1


# ------------------------------------------------ registry tables

_SEGMENTS = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD")
_PART_ADJ = ("cold", "small", "large", "blue", "new", "hot", "red", "old", "big", "green", "dark")
_PART_NOUN = ("widget", "bolt", "rod", "gear", "anvil", "ring")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(days: np.ndarray, base: dt.datetime) -> pa.Array:
    us = (np.asarray(days, dtype="float64") * 86_400e6).astype("int64")
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(epoch + us, type=pa.timestamp("us"))


def sf_tables(root: str, seed: int, scale: float = 0.001) -> str:
    """The ten registry tables with the sf testdata's schemas and
    value domains, sized like sf0.001 at the default ``scale``."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc = int(500_000 * scale)

    def r2(x):
        return np.round(x, 2)

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": r2(rng.uniform(-999.99, 9999.99, n_cust)),
                "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": r2(rng.uniform(-999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 11, n_part), rng.integers(0, 6, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": r2(900.0 + np.arange(n_part) * 0.1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
                "o_totalprice": r2(rng.uniform(1000.0, 500_000.0, n_ord)),
                "o_orderdate": _ts(rng.integers(0, 2404, n_ord), dt.datetime(1995, 1, 1)),
                "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
                "l_extendedprice": r2(rng.uniform(900.0, 105_000.0, n_line)),
                "l_discount": r2(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": r2(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": [("N", "R", "A")[i] for i in rng.integers(0, 3, n_line)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
                "l_shipdate": _ts(rng.integers(1, 2500, n_line), dt.datetime(1995, 1, 1)),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                "ts": _ts(np.sort(rng.uniform(0.0, 30.0, n_ev)), dt.datetime(2024, 1, 1)),
                "user_id": rng.integers(0, 15, n_ev).astype("int64"),
                "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
                "value": r2(rng.exponential(80.0, n_ev)),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": documents(rng, 0, n_doc),
    }
    emb = rng.normal(size=(n_doc, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype="int64"),
            "embedding": pa.array(emb.astype("float32").tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
        }
    )
    for name, table in tables.items():
        write(table, f"{root}/{name}.parquet")
    return root

"""Seeded generator for the engine's input tables.

Writes the ten tables the engine reads (``sources.io.TPCH_TABLES``) as one
parquet file each, one row group per file, with the schemas, row counts and
value distributions of the fixtures the engine's tests run on: a TPC-H-ish
star schema with independent uniform columns, an ``events`` stream sorted by
time, a ``documents`` corpus with planted near-duplicates and unit-norm
``embeddings``. The same ``(sf, seed)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf1 = 150k customers)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vocab = np.asarray(_VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # 5% near-duplicates (another document plus a marker token) and a few
    # exact copies, so the dedup families have clusters to find.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.003):
        texts[i] = texts[int(rng.integers(0, n))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": np.char.add("src", (np.arange(n) % 20).astype(str)).astype(object),
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables as pandas frames, deterministic in ``(sf, seed)``."""
    n = row_counts(sf)
    rng = np.random.default_rng([seed, round(sf * 1_000_000)])
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(_pick(rng, _ADJECTIVES, npart).astype(str), " "),
                _pick(rng, _NOUNS, npart).astype(str),
            ).astype(object),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)).astype(object),
            "p_type": _pick(rng, _TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(i32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    offsets_s = np.minimum(np.cumsum(rng.exponential(30 * 86400 / ne, ne)), 30 * 86400 - 1)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + (offsets_s * 1e6).astype(np.int64).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, round(15_000 * sf)), ne).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}"
            ).astype(object),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, nv).astype(i32),
        }
    )
    return t


def write_tables(sf: float, seed: int, out_dir: str) -> dict[str, int]:
    """Generate and write every table under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in build_tables(sf, seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(df) + 1)
        counts[name] = len(df)
    return counts


def check_tables(data_dir: str) -> dict[str, int]:
    """Row count of every table under ``data_dir``; raise if one is missing."""
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(f"fixture directory missing: {data_dir}")
    counts = {}
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if not os.path.isfile(path):
            raise FileNotFoundError(f"fixture table missing: {path}")
        counts[name] = pq.ParquetFile(path).metadata.num_rows
        if counts[name] == 0:
            raise ValueError(f"fixture table empty: {path}")
    return counts

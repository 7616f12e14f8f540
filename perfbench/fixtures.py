"""Seeded inputs. Generation is excluded from every metric.

``volume``/``write_slices`` follow tools/soak.py: uint16 slices, about
10% foreground over zero background, ``default.{ch}.{z:05d}.tif``.
``write_tables`` writes the ten fixture tables the registry queries
read, with the schemas, value domains and row counts of the
repository's sf0.1 fixture. As in that fixture, ``l_orderkey`` is drawn
uniformly over the order keys (about 4 lines per order, some orders
with none).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np


def volume(seed: int, dims: tuple[int, int, int], channels: int) -> list[np.ndarray]:
    """One (z, y, x) uint16 array per channel, ~10% non-zero voxels."""
    out = []
    n = dims[0] * dims[1] * dims[2]
    for ch in range(channels):
        rng = np.random.default_rng((seed, ch))
        vol = np.zeros(n, dtype=np.uint16)
        nz = rng.choice(n, size=n // 10, replace=False)
        vol[nz] = rng.integers(1, 1 << 16, size=nz.size, dtype=np.uint16)
        out.append(vol.reshape(dims))
    return out


def write_slices(root: str, vols: list[np.ndarray]) -> int:
    """Write every z-plane as an uncompressed TIFF; returns raw bytes."""
    from hortacloud_importer_spark.sources.tiff import encode_tiff

    os.makedirs(root, exist_ok=True)
    for ch, vol in enumerate(vols):
        for z in range(vol.shape[0]):
            with open(f"{root}/default.{ch}.{z:05d}.tif", "wb") as fh:
                fh.write(encode_tiff(vol[z : z + 1]))
    return sum(v.nbytes for v in vols)


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "small red blue hot old large green dark".split()
_NOUN = "ring widget bolt plate rod gear pipe valve".split()


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> np.ndarray:
    """``n`` random midnights in [start, end), as microsecond timestamps."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi, size=n).astype("datetime64[D]").astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pd.DataFrame(cols), preserve_index=False)
    pq.write_table(table, f"{out_dir}/{name}.parquet")


def write_tables(seed: int, out_dir: str, scale: float = 1.0) -> int:
    """Write the fixture tables; returns their bytes on disk. ``scale``
    multiplies the row counts of customer, part, orders, lineitem and
    events (1.0 gives sf0.1's)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def rows(n: int) -> int:
        return max(1, round(n * scale))

    n_cust, n_supp, n_part = rows(15000), 1000, rows(20000)
    n_ord, n_line = rows(150000), rows(600000)
    n_evt, n_doc, n_vec = rows(100000), 5000, 2000
    i32 = np.int32

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(
            rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 2), n_ord
        ),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(
            rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 5), n_line
        ),
    })
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // max(n_evt, 1), n_evt)
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_evt).astype(np.int64),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_evt
        ),
        "value": np.round(rng.exponential(40.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 80)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(
            ["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.15, 0.14, 0.14, 0.13]
        ),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec).astype(i32),
    })
    return sum(
        os.path.getsize(f"{out_dir}/{f}") for f in os.listdir(out_dir)
    )

"""Deterministic input tables for the benchmark.

The tables are the three of the synthetic star schema the engine's tests
use (FIXTURES.md part B) that the workloads read: the same names, columns
and types, one parquet file each. Content depends only on the scale factor: every table draws from its
own numpy generator seeded with ``DATA_SEED`` and the table's name, so a
table is byte-identical across runs, processes and workload seeds. The
workload seed never changes content; it only orders things (which tables
are submitted first, the order of the key-shifted copies in an inflated
file), so the correctness references in ``expected.json`` stay valid for
every seed. ``_rows`` keeps the counts of the star schema's other tables
because lineitem's keys range over them.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 42

TABLES = ("lineitem", "documents", "embeddings")

WORDS = (
    "a the data spark scan sort hash join agg filter group query table row"
    " column key value window stream merge batch line part order customer"
    " vector big small fast slow"
).split()


def _rng(name: str) -> np.random.Generator:
    return np.random.default_rng([DATA_SEED, zlib.crc32(name.encode())])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: dt.datetime, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us"))


def _rows(sf: float) -> dict[str, int]:
    def scaled(base):
        return max(1, int(round(base * sf)))

    return {
        "supplier": scaled(10_000),
        "part": scaled(200_000),
        "orders": scaled(1_500_000),
        "lineitem": scaled(6_000_000),
        "documents": max(500, scaled(50_000)),
        "embeddings": max(500, scaled(20_000)),
    }


def _table(name: str, rows: dict[str, int]) -> pa.Table:
    rng = _rng(name)
    n = rows[name]
    if name == "lineitem":
        return pa.table(
            {
                "l_orderkey": pa.array(
                    np.sort(rng.integers(0, rows["orders"], n)), pa.int64()
                ),
                "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
                "l_suppkey": pa.array(
                    rng.integers(0, rows["supplier"], n), pa.int64()
                ),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype("float64"),
                "l_extendedprice": _money(rng, 900, 105_000, n),
                "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                "l_shipdate": _dates(rng, dt.datetime(1992, 1, 2), 2550, n),
            }
        )
    if name == "documents":
        words = np.array(WORDS)
        texts: list[str] = []
        for i in range(n):
            if i >= 10 and rng.random() < 0.15:
                # near duplicate of an earlier document: a few words swapped
                toks = texts[int(rng.integers(0, i))].split()
                for _ in range(int(rng.integers(1, 4))):
                    toks[int(rng.integers(0, len(toks)))] = words[
                        int(rng.integers(0, len(words)))
                    ]
            else:
                toks = list(words[rng.integers(0, len(words), rng.integers(10, 100))])
            texts.append(" ".join(toks))
        langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
        return pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": texts,
                "lang": langs[rng.integers(0, len(langs), n)],
                "source": [f"src{i % 20}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
    if name == "embeddings":
        dim, k = 64, 10
        centers = rng.normal(0.0, 1.0, (k, dim))
        label = rng.integers(0, k, n)
        vecs = centers[label] + rng.normal(0.0, 0.6, (n, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        vecs = vecs.astype("float32")
        return pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(label, pa.int32()),
            }
        )
    raise ValueError(f"unknown table {name!r}")


def generate(out_dir: str, sf: float, names=TABLES) -> dict[str, int]:
    """Write ``<name>.parquet`` for each table into ``out_dir``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = _rows(sf)
    for name in names:
        pq.write_table(_table(name, rows), os.path.join(out_dir, f"{name}.parquet"))
    return {name: rows[name] for name in names}


def inflate(src: str, dest: str, factor: int, order: list[int]) -> int:
    """Write ``factor`` key-shifted copies of the lineitem file ``src`` into
    the single file ``dest``, copy ``order[i]`` in position ``i`` (the key
    shift of bench.py's ``_inflate_lineitem``, with a caller-chosen copy
    order). Returns the row count."""
    assert sorted(order) == list(range(factor)), order
    t = pq.read_table(src)
    shift = pc.max(t["l_orderkey"]).as_py() + 1
    idx = t.schema.get_field_index("l_orderkey")
    with pq.ParquetWriter(dest, t.schema) as writer:
        for k in order:
            writer.write_table(
                t.set_column(idx, "l_orderkey", pc.add(t["l_orderkey"], k * shift))
            )
    return t.num_rows * factor

"""Benchmark inputs: the sf0.01 fixtures, or a seeded derivation of them.

Seed 0 uses ``perfbench/fixtures`` unchanged.  Any other seed writes a
derivation that keeps every oracle applicable: a seeded 97% sample of
orders with their lineitems, of events and of documents, and every
multi-row table in a seeded row order.  The program only ever sees the
written files; the seed never reaches it.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
KEEP = 0.97  # share of orders, events and documents a derived input keeps


def derive(seed: int, out_dir: str) -> None:
    """Write the seed's input tables into ``out_dir`` (which must not exist)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    tmp = f"{out_dir}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    tables = {t: pq.read_table(os.path.join(FIXTURES, f"{t}.parquet")) for t in TABLES}
    for t in ("orders", "events", "documents"):
        tables[t] = tables[t].filter(rng.random(tables[t].num_rows) < KEEP)
    li = tables["lineitem"]
    tables["lineitem"] = li.filter(pc.is_in(li["l_orderkey"], tables["orders"]["o_orderkey"]))
    for t in TABLES:
        table = tables[t]
        if t not in ("region", "nation"):
            table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(tmp, f"{t}.parquet"))
    os.replace(tmp, out_dir)


def prepare(seed: int, cache_dir: str) -> str:
    """Return the directory holding the seed's inputs, deriving it once."""
    if seed == 0:
        return FIXTURES
    out = os.path.join(cache_dir, f"inputs-seed{seed}")
    if not os.path.isdir(out):
        derive(seed, out)
    return out


def link_pass(src: str, dst: str) -> str:
    """Give one pass its own input path: hard links to the same files.

    Every module memo in the program is keyed by the input path, so a
    fresh path means no pass reuses work an earlier pass left behind.
    """
    os.makedirs(dst)
    for t in TABLES:
        os.link(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))
    return dst

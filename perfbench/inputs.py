"""Seeded benchmark inputs.

The bundled base tables are rewritten with their rows in a seed-driven
order and cut into files at seed-driven boundaries. The seed never changes
which rows exist, so every seed asks for the same work and the same
answers; it only changes how the bytes are laid out. The engine reads only
the written parquet.
"""
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
FILES = {"lineitem": 8, "orders": 4, "events": 4, "documents": 4,
         "embeddings": 2, "customer": 2, "part": 2}


def _cut(table, rng, files, out_dir):
    """Write `table` as `files` parquet files cut at seeded row offsets."""
    n = table.num_rows
    files = max(1, min(files, n))
    cuts = sorted(rng.choice(np.arange(1, n), size=files - 1, replace=False)) if files > 1 else []
    bounds = [0, *[int(c) for c in cuts], n]
    os.makedirs(out_dir)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def generate(base, seed, data_dir, single_dir, replay_dir, replay_files):
    """Write the seeded tables to `data_dir` (one directory of part files
    per table, what the engine reads) and `single_dir` (one file per
    table, same rows in the same order, what DuckDB reads). The stream's
    backlog -- the odd doc_ids -- goes to `replay_dir` as `replay_files`
    files. Returns the number of documents in the backlog."""
    rng = np.random.default_rng(seed)
    os.makedirs(single_dir)
    docs = None
    for t in TABLES:
        tab = pq.read_table(os.path.join(base, f"{t}.parquet"))
        tab = tab.take(rng.permutation(tab.num_rows))
        _cut(tab, rng, FILES.get(t, 1), os.path.join(data_dir, f"{t}.parquet"))
        pq.write_table(tab, os.path.join(single_dir, f"{t}.parquet"))
        if t == "documents":
            docs = tab
    odd = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 1))
    _cut(odd, rng, replay_files, replay_dir)
    return odd.num_rows

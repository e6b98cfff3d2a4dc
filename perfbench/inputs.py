"""Seeded input generation.

Every input a workload reads is derived from the base tables in
``data/`` and the run's seed, and written fresh into the run's work
directory: the same seed gives byte-identical inputs, and no path is
ever reused across runs, so no path-keyed memo of the engine can carry
over from one run to the next.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from check import DATA_DIR, TABLES

# Dimension tables stay one file in a snapshot; every other table is
# permuted and split into SNAPSHOT_FILES files.
WHOLE_TABLES = frozenset({"region", "nation", "supplier"})
SNAPSHOT_FILES = 8
# Tables the incremental-scoring stream directory serves beside the
# lineitem micro-batches (orders for the stream-static join, customer
# for the served composite).
STREAM_STATIC_TABLES = ("orders", "customer", "nation", "region")


def _base(name: str) -> str:
    return os.path.join(DATA_DIR, f"{name}.parquet")


def copy_base(out_dir: str) -> str:
    """The base tables as they are: one file, one row group each."""
    os.makedirs(out_dir)
    for t in TABLES:
        shutil.copyfile(_base(t), os.path.join(out_dir, f"{t}.parquet"))
    return out_dir


def _split(table: pa.Table, parts: int) -> list[pa.Table]:
    n = table.num_rows
    bounds = [n * i // parts for i in range(parts + 1)]
    return [table.slice(bounds[i], bounds[i + 1] - bounds[i]) for i in range(parts)]


def _permuted(name: str, rng: np.random.Generator) -> pa.Table:
    t = pq.read_table(_base(name))
    return t.take(pa.array(rng.permutation(t.num_rows)))


def snapshot(out_dir: str, rng: np.random.Generator) -> str:
    """A permuted, multi-file copy of the base tables: the same multiset
    of rows per table, so every query's result is unchanged, at a path
    no earlier snapshot used."""
    os.makedirs(out_dir)
    for t in TABLES:
        dest = os.path.join(out_dir, f"{t}.parquet")
        if t in WHOLE_TABLES:
            shutil.copyfile(_base(t), dest)
            continue
        os.makedirs(dest)
        for i, part in enumerate(_split(_permuted(t, rng), SNAPSHOT_FILES)):
            pq.write_table(part, os.path.join(dest, f"part-{i:03d}.parquet"))
    return out_dir


def micro_batches(
    stream_dir: str, staging_dir: str, rng: np.random.Generator, batches: int
) -> list[tuple[str, int, int]]:
    """Prepare the incremental-scoring stream source: the static tables
    go into ``stream_dir``; lineitem rows are assigned to ``batches``
    equal micro-batch files in ``staging_dir``, to be dropped one at a
    time.  Returns (staged path, rows, bytes) per batch."""
    os.makedirs(stream_dir)
    os.makedirs(staging_dir)
    for t in STREAM_STATIC_TABLES:
        shutil.copyfile(_base(t), os.path.join(stream_dir, f"{t}.parquet"))
    out = []
    for i, part in enumerate(_split(_permuted("lineitem", rng), batches)):
        path = os.path.join(staging_dir, f"lineitem_{i:04d}.parquet")
        pq.write_table(part, path)
        out.append((path, part.num_rows, os.path.getsize(path)))
    return out


def merge_batches(paths: list[str], dest: str) -> tuple[int, int]:
    """Concatenate staged micro-batches into one file (rows, bytes)."""
    t = pa.concat_tables([pq.read_table(p) for p in paths])
    pq.write_table(t, dest)
    return t.num_rows, os.path.getsize(dest)


def drop(staged: str, stream_dir: str) -> None:
    """Publish one staged batch atomically into the stream source."""
    os.replace(staged, os.path.join(stream_dir, os.path.basename(staged)))

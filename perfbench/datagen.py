"""Seeded inputs for the benchmark, cached by (sf, seed, tables, shards).

The tables come from the repository's generator,
``scripts/gen_scale_data.py`` (``gen(sf, out_dir, seed, tables)``), the
star schema of the engine's test data at any scale factor. ``prepare``
writes each set once under ``<root>/.perfbench_cache`` and returns its
directory; a later run with the same key reuses it. The streaming
surface also gets its source here: ``events`` split into time-ordered
parquet shards whose modification times increase, so a file stream with
``maxFilesPerTrigger=1`` reads them in order and no row arrives behind
the watermark.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
KEEP = 8


def _generator(root: str):
    path = os.path.join(root, "scripts", "gen_scale_data.py")
    spec = importlib.util.spec_from_file_location("gen_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.gen


def _write_shards(src: str, out_dir: str, n_shards: int) -> None:
    """Write the table at ``src`` (already in stream order) as n
    contiguous parquet shards with strictly increasing modification
    times."""
    table = pq.read_table(src)
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, n_shards + 1).astype(int)
    for k in range(n_shards):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))


def cache_dir(
    root: str,
    sf: float,
    seed: int,
    tables: tuple[str, ...],
    shards: dict[str, int] | None = None,
) -> str:
    """The cache directory of one (sf, seed, tables, shards) input set."""
    key = f"sf{sf:g}-seed{seed}-" + "-".join(t[:3] for t in ALL_TABLES if t in tables)
    if shards:
        key += "-" + "-".join(f"{t[:3]}{n}" for t, n in sorted(shards.items()))
    return os.path.join(root, ".perfbench_cache", key)


def _prune(cache: str) -> None:
    """Keep the KEEP most recently used input sets; a run of many seeds
    would otherwise fill the disk (an sf1 set is ~150 MB)."""
    if not os.path.isdir(cache):
        return
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime, reverse=True
    )
    for path in entries[KEEP - 1:]:
        shutil.rmtree(path, ignore_errors=True)


def prepare(
    root: str,
    sf: float,
    seed: int,
    tables: tuple[str, ...],
    shards: dict[str, int] | None = None,
) -> str:
    """Return the directory holding ``<table>.parquet`` for every
    requested table (plus ``shards/<table>/`` for ``shards``), generating
    it on the first call for this key."""
    out = cache_dir(root, sf, seed, tables, shards)
    if os.path.exists(os.path.join(out, "MANIFEST.json")):
        os.utime(out)
        return out
    _prune(os.path.dirname(out))
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _generator(root)(sf, tmp, seed=seed, tables=set(tables))
    for name, n in (shards or {}).items():
        _write_shards(os.path.join(tmp, f"{name}.parquet"), os.path.join(tmp, "shards", name), n)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out

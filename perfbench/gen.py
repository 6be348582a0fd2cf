"""Seeded benchmark inputs: a permutation of a fixture directory.

``generate(src, out_root, seed)`` permutes the rows of every
``*.parquet`` table of ``src`` and splits each into part files, both
driven by ``seed``. The same seed gives byte-identical files.

Each output is one directory per (source, seed, content), reused when
its manifest already exists. The content part of its name hashes this
file and the source tables, so a change to either makes new inputs
instead of reusing stale ones. The manifest records rows, files and
bytes per table, so a run can state its input size. Everything runs in
this process with pyarrow; no Spark session is involved.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST = "_manifest.json"


def source_tables(src: str) -> list[str]:
    return sorted(n[: -len(".parquet")] for n in os.listdir(src) if n.endswith(".parquet"))


def content_key(src: str) -> str:
    """Hash of this generator and the source tables, 12 hex digits."""
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    for t in source_tables(src):
        h.update(t.encode())
        with open(os.path.join(src, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _write_parts(table: pa.Table, out_dir: str, rng: np.random.Generator) -> int:
    """Permute rows and write them as equal part files (8 for tables of
    10k rows or more, else 1). The count is fixed so the seed changes
    which rows share a file, not how many scan tasks a query gets."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    n_files = 8 if table.num_rows >= 10_000 else 1
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    os.makedirs(out_dir)
    for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return n_files


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


def generate(src: str, out_root: str, seed: int) -> tuple[str, dict]:
    """Build (or reuse) the permuted copy; return its directory and manifest."""
    source = os.path.basename(os.path.normpath(src))
    out = os.path.join(out_root, f"{source}-seed{seed}-{content_key(src)}")
    manifest_path = os.path.join(out, MANIFEST)
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables = {}
    for t in source_tables(src):
        table = pq.read_table(os.path.join(src, f"{t}.parquet"))
        t_dir = os.path.join(tmp, f"{t}.parquet")
        files = _write_parts(table, t_dir, rng)
        tables[t] = {"rows": table.num_rows, "files": files, "bytes": _dir_bytes(t_dir)}
    manifest = {"source": source, "seed": seed, "tables": tables,
                "total_bytes": sum(v["bytes"] for v in tables.values())}
    with open(os.path.join(tmp, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest

"""Benchmark inputs: the engine's fixture tiers and their key-shifted copies.

The workloads read the read-only fixture tiers the engine, its tests and
``bench.py`` use (``<fixture root>/sf0.001``, ``sf0.01``, ``sf0.1``; the
root is the one ``tools/build_stress_tier.py`` reads). A one-copy
workload reads its fixture tier in place. An N-copy workload reads a tier
derived here with the shift rules of ``tools/build_stress_tier.py``
(whose key map is imported, not repeated): every key column shifts by
``copy * (max key + 1)`` consistently across tables, so joins land
exactly as in the fixture; document tokens get a per-copy ``_i`` suffix;
embeddings get a ``+0.001 * i`` per-component offset; nation and region
stay fixed.

Each copy is written as one part file of the table's directory, so a scan
has one split per copy. The seed fixes which copy each part file holds;
the rows are the same for every seed. A derived tier is complete when its
``_READY.json`` exists. It records the row count of every table, checked
against the parquet footers after writing, and is reused as is for the
same (fixture, copies, seed). The fixture tiers are never written.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.build_stress_tier import KEYS, OWNER, SRC

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FIXTURE_ROOT = os.path.dirname(SRC)


def fixture_dir(fixture: str) -> str:
    """The directory of one fixture tier, e.g. ``fixture_dir("sf0.01")``."""
    return os.path.join(FIXTURE_ROOT, fixture)


def _copy(base: dict[str, pa.Table], name: str, i: int, stride: dict[str, int]) -> pa.Table:
    """Copy ``i`` of one table under the shift rules (copy 0 is the base)."""
    tbl = base[name]
    if i == 0:
        return tbl
    cols = {}
    for c in tbl.column_names:
        col = tbl[c]
        if c in KEYS.get(name, ()):
            col = pc.add(col, i * stride[c])
        elif name == "documents" and c == "text":
            col = pa.array(
                [" ".join(w + f"_{i}" for w in s.split(" ")) for s in col.to_pylist()]
            )
        elif name == "documents" and c == "n_chars":
            col = pc.cast(pc.utf8_length(cols["text"]), pa.int64())
        elif name == "embeddings" and c == "embedding":
            arr = col.combine_chunks()
            flat = arr.flatten().to_numpy().astype(np.float64) + 0.001 * i
            col = pa.ListArray.from_arrays(arr.offsets, pa.array(flat.astype(np.float32)))
        cols[c] = col
    return pa.table(cols, schema=tbl.schema)


def ensure_tier(root: str, spec: dict, seed: int) -> tuple[str, float, bool]:
    """Return (tier dir, seconds spent building, reused) for ``spec``.

    ``spec`` is ``{"fixture": "sf0.01", "copies": N}``. With one copy the
    tier is the fixture directory itself. Otherwise a table of one part
    (nation, region) is one file ``<name>.parquet`` and every other table
    is a directory ``<name>.parquet/`` of N part files.
    """
    src = fixture_dir(spec["fixture"])
    if not os.path.isfile(os.path.join(src, "lineitem.parquet")):
        raise FileNotFoundError(f"fixture tier {src} is missing")
    if spec["copies"] == 1:
        return src, 0.0, True
    tag = f"{spec['fixture']}_x{spec['copies']}_seed{seed}"
    path = os.path.join(root, tag)
    if os.path.exists(os.path.join(path, "_READY.json")):
        return path, 0.0, True
    t0 = time.perf_counter()
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = {t: pq.read_table(os.path.join(src, f"{t}.parquet")) for t in TABLES}
    stride = {k: int(pc.max(base[t][c]).as_py()) + 1 for k, (t, c) in OWNER.items()}
    order = random.Random(seed).sample(range(spec["copies"]), spec["copies"])
    rows = {}
    for name in TABLES:
        target = os.path.join(tmp, f"{name}.parquet")
        if name in ("region", "nation"):
            pq.write_table(base[name], target)
            files = [target]
        else:
            os.makedirs(target)
            files = []
            for j, i in enumerate(order):
                files.append(os.path.join(target, f"part-{j:03d}.parquet"))
                pq.write_table(_copy(base, name, i, stride), files[-1])
        rows[name] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        want = base[name].num_rows * len(files)
        if rows[name] != want:
            raise RuntimeError(f"{name}: wrote {rows[name]} rows, expected {want}")
    with open(os.path.join(tmp, "_READY.json"), "w") as f:
        json.dump({"seed": seed, "spec": spec, "copy_order": order, "rows": rows}, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, time.perf_counter() - t0, False


def duckdb_source(tier: str, name: str) -> str:
    """The ``read_parquet`` argument for one table of a tier."""
    path = os.path.join(tier, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path

"""Seeded input tables, written once per (kind, seed, size) and cached.

The seed picks the image-id range, and with it every ``phash``, lon and
lat; it also seeds the CRS point table. The program under test receives
only the parquet files written here and the polygon sets its own
``make_polygons(count, seed)`` builds.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 16 files of one row group each. Spark packs them into about one split
# per task thread; the warm-up reads only as many files as there are task
# threads, which is enough to start every python worker (64 smaller files
# made the end-to-end jobs 25-40% slower and the set-up no faster)
N_FILES = 16
# input sets kept on disk; older ones are evicted (most runs use new seeds)
KEEP = 4

ADJ = ("misty", "amber", "quiet", "vivid", "rustic", "solar", "velvet", "iron")
NOUN = ("harbor", "ridge", "meadow", "canyon", "lagoon", "plateau", "grove",
         "steppe", "dune", "fjord", "atoll", "mesa", "tundra")

# the CRS point table covers Europe: the ED50 candidates of the
# EPSG:4230 -> EPSG:4326 dispatch have their areas of use there, and the
# fixed-zone UTM and European LCC steps of the 4D chain stay in domain
CRS_LON = (-12.0, 42.0)
CRS_LAT = (34.0, 72.0)


def image_id_base(seed: int) -> int:
    """First image id of the seed's range; 12 decimal digits suffice."""
    return (seed % 90_000) * 10_000_000


def splitmix64(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def caption(i: int) -> str:
    """The caption of image ``i``, as ``sources.synth.images_df`` writes it."""
    return f"caption for image {i}: {ADJ[i % len(ADJ)]} {NOUN[i % len(NOUN)]}"


def image_ids(seed: int, n: int) -> np.ndarray:
    base = image_id_base(seed)
    return np.arange(base, base + n, dtype=np.int64)


def image_table(ids: np.ndarray) -> pa.Table:
    ph = splitmix64(ids).view(np.int64)
    return pa.table({
        "image_id": pa.array([f"img{i:012d}" for i in ids.tolist()]),
        "caption": pa.array([caption(i) for i in ids.tolist()]),
        "phash": pa.array(ph),
    })


def point_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 0x4C43])
    return pa.table({
        "pid": pa.array(np.arange(n, dtype=np.int64)),
        "lon": pa.array(rng.uniform(*CRS_LON, n)),
        "lat": pa.array(rng.uniform(*CRS_LAT, n)),
        "h": pa.array(rng.uniform(0.0, 3000.0, n)),
        "epoch": pa.array(rng.uniform(2010.0, 2030.0, n)),
    })


def _write(table_fn, path: str, n: int) -> None:
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-n // N_FILES)
    for k, lo in enumerate(range(0, n, step)):
        t = table_fn(lo, min(lo + step, n))
        pq.write_table(t, os.path.join(tmp, f"part-{k:05d}.parquet"),
                       row_group_size=step)
    os.rename(tmp, path)


def _evict(root: str, keep_path: str) -> None:
    entries = [os.path.join(root, d) for d in os.listdir(root)
               if not d.endswith(".partial")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[KEEP:]:
        if d != keep_path:
            shutil.rmtree(d, ignore_errors=True)


def ensure(root: str, kind: str, seed: int, n: int) -> tuple[str, bool]:
    """Path of the cached parquet directory of ``n`` rows of ``kind``
    ('images' or 'points') at ``seed``; writes it when absent. Returns
    (path, generated)."""
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{kind}_{seed}_{n}")
    generated = False
    if not os.path.isdir(path):
        if kind == "images":
            ids = image_ids(seed, n)
            _write(lambda lo, hi: image_table(ids[lo:hi]), path, n)
        else:
            full = point_table(seed, n)
            _write(lambda lo, hi: full.slice(lo, hi - lo), path, n)
        generated = True
    os.utime(path, (time.time(), time.time()))
    _evict(root, path)
    return path, generated


def warmup_files(path: str, k: int) -> list[str]:
    """The first ``k`` of the N_FILES files: the warm-up action's input.
    With k = task threads every thread runs a task, so every python
    worker the plan needs is spawned before timing starts."""
    return [os.path.join(path, f"part-{i:05d}.parquet") for i in range(k)]

"""The benchmark's input: the engine's reference test tables.

``data/sf0.01/`` holds the ten catalog tables (``region`` ...
``embeddings``) at scale factor 0.01, byte for byte as the engine's
oracle parity tests read them: a TPC-H-like star schema, an ``events``
stream, a ``documents`` corpus and ``embeddings``. ``data/sf0.1/``
holds the ``events`` table at scale factor 0.1.

A workload's input directory is a copy of the sf0.01 tables, with
``events`` optionally taken from another scale, and the corpus tables
optionally tiled ``tiles`` times by ``tools.edge_sweep.make_row_scale``:
every copy re-keys its ids by a fixed stride and is perturbed (a
per-copy tag on the text, one nudged vector element), so copies stay
near-duplicates without collapsing into exact duplicates.

The input does not depend on the run's seed; the same arguments give
byte-identical tables.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from tools.edge_sweep import make_row_scale

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
REFERENCE_DIR = os.path.join(DATA_DIR, "sf0.01")
CORPUS_TABLES = ("documents", "embeddings")


def write_input(out_dir: str, tiles: int, events_scale: str = "sf0.01") -> None:
    """Copy the reference tables to ``out_dir``: ``events`` from the
    ``events_scale`` directory, the corpus tables tiled ``tiles`` times."""
    os.makedirs(out_dir, exist_ok=True)
    for entry in sorted(os.listdir(REFERENCE_DIR)):
        src, dst = os.path.join(REFERENCE_DIR, entry), os.path.join(out_dir, entry)
        name = entry.removesuffix(".parquet")
        if name == "events":
            shutil.copyfile(os.path.join(DATA_DIR, events_scale, entry), dst)
        elif name in CORPUS_TABLES and tiles > 1:
            pq.write_table(make_row_scale(name, pq.read_table(src), tiles), dst)
        else:
            shutil.copyfile(src, dst)

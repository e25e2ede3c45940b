"""Partition-count parity lane (VERDICT r15 "Next round" #2).

The shuffle-order sweep permutes ROW order at fixed partitioning
(tools/edge_sweep.py --shuffle), but float/decimal aggregation trees
also change when the PARTITION COUNT changes — exactly what a real
cluster does on every scale-up, and the one order-dependence axis the
row-shuffle sweep cannot see. This lane runs full-registry
engine-vs-oracle parity across two axes:

A. **Shuffle/task parallelism**: ``spark.sql.shuffle.partitions`` ∈
   {1, 7, 32}. Each value runs in a FRESH subprocess via
   ``SPARK_GRAFT_CPUS`` (session.py derives both ``local[N]`` and the
   shuffle partition count from it), so per-config sessions never
   bleed confs into each other. P=1 collapses every partial-agg tree
   to one task; P=7 is a deliberately odd, non-power-of-two count
   that misaligns with every bucket/salt constant in the engine.

B. **Input-file split**: every table rewritten with tiny parquet row
   groups, then scanned under a small
   ``spark.sql.files.maxPartitionBytes`` (via the session's
   SPARK_GRAFT_EXTRA_CONF probe hook) — the same bytes fan out into
   many scan partitions, changing per-file partial aggregation and
   scan-order-sensitive folds. DuckDB reads the identical files, so
   the oracle side is unchanged by construction.

The engine's defense for both axes is the same contract the shuffle
sweep certifies — compared float sums route through decimal
(functions/parity.dsum) and order-sensitive picks carry total
tiebreaks — so this lane is the partition-axis twin of that gate.

Usage::

    python tools/partition_sweep.py [--src DIR] [--only n1 n2 ...]

Exit 0 iff every lane is green (tools/check.py ``parity_lane``). Runs the three parallelism
lanes and the split-input lane SEQUENTIALLY (each subprocess already
uses local[N] executors; stacking four JVMs would oversubscribe the
host and teach us nothing about parity).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check import parity_lane  # noqa: E402

SRC_DEFAULT = "/root/testdata/sf0.01"
SPLIT_OUT_DEFAULT = "/tmp/sdl_partsweep_split"

#: Parallelism axis: 1 (single task — every tree is one fold), 7
#: (odd, misaligned with every power-of-two constant), 32 (the
#: engine's default, as the control lane).
PARTITION_COUNTS = (1, 7, 32)

#: Split-input axis: row groups of this many rows (small enough that
#: even the 500-row documents/embeddings tables split — those drive
#: the similarity/text families, the heaviest fold users)...
SPLIT_ROW_GROUP_ROWS = 128
#: ...scanned under this maxPartitionBytes, so each row group lands
#: in its own scan partition (64 KiB is far below any sf0.01 row
#: group's encoded size ceiling and far above one row).
SPLIT_MAX_PARTITION_BYTES = 65536


def make_split_tables(src: str, out: str) -> None:
    """Rewrite every table with tiny row groups. Logical content is
    IDENTICAL (schema and row order preserved) — only the physical
    chunking changes, which is the point: the oracle reads the same
    rows while Spark's scan fans out into one partition per group."""
    import pyarrow.parquet as pq

    outp = Path(out)
    outp.mkdir(parents=True, exist_ok=True)
    for p in sorted(Path(src).glob("*.parquet")):
        t = pq.read_table(p)
        pq.write_table(t, outp / p.name, row_group_size=SPLIT_ROW_GROUP_ROWS)
        meta = pq.ParquetFile(outp / p.name).metadata
        print(f"  {p.stem}: {t.num_rows} rows -> {meta.num_row_groups} row groups")


def main() -> int:
    argv = sys.argv[1:]

    def _flag(name: str, default: str) -> str:
        if name in argv:
            i = argv.index(name)
            v = argv[i + 1]
            del argv[i : i + 2]
            return v
        return default

    src = _flag("--src", SRC_DEFAULT)
    split_out = _flag("--split-out", SPLIT_OUT_DEFAULT)
    only = []
    if "--only" in argv:
        only = argv[argv.index("--only") + 1 :]

    failures = []
    for n in PARTITION_COUNTS:
        if not parity_lane(f"P={n}", src, only, {"SPARK_GRAFT_CPUS": str(n)}):
            failures.append(f"P={n}")

    print(f"generating split-row-group tables {src} -> {split_out}")
    make_split_tables(src, split_out)
    conf = (
        f"spark.sql.files.maxPartitionBytes={SPLIT_MAX_PARTITION_BYTES};"
        "spark.sql.files.openCostInBytes=0"
    )
    if not parity_lane(
        "split-input", split_out, only, {"SPARK_GRAFT_EXTRA_CONF": conf}
    ):
        failures.append("split-input")

    if failures:
        print(f"PARTITION SWEEP RED: {', '.join(failures)}")
        return 1
    print("PARTITION SWEEP ALL GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

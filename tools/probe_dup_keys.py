"""Duplicate-PRIMARY-KEY probe (r15).

At-least-once delivery is the streaming reality: an upstream retry
re-emits the SAME record — same event_id, same payload — and a batch
loader re-reads a file after a partial commit. The edge sweep's
DUP_RATE injects duplicate CONTENT under fresh keys; this probe
injects duplicate KEYS with verbatim content, the complementary
shape. Parity must hold (both engines see identical data) and no
engine path may abort or pick nondeterministically: verbatim
duplicates tie on every ordering key, so whichever copy a window
picks, the output VALUES are identical.

(Same-key DIFFERENT-content rows are deliberately out of scope: PK
uniqueness per content version is the input contract — the reference
keys Kafka topics the same way — and an arbitrary-pick divergence on
contradictory inputs is GIGO, not an engine bug.)

Lanes (each a mutated sf0.001 copy, full-registry parity via
tools/check.py):

- dup-events: ~5% of events re-emitted verbatim (same event_id).
- dup-documents: ~5% of documents re-emitted verbatim (same doc_id)
  — near-dup pipelines must treat the copies consistently in both
  engines (pair generation uses id inequalities; n_sh/arrays are
  DISTINCT-based on both sides).
- dup-orders: ~3% of orders AND their lineitems re-emitted verbatim
  (FK-consistent: the retry replays the whole order).
- dup-embeddings: ~5% of vectors re-emitted verbatim (same vec_id).
  This lane asserts the GUARD, not parity: top-k-by-id / code
  tables / pair generation are ill-defined under duplicated ids (the
  first probe run measured BOTH engines emitting divergent garbage
  shapes on the same duplicated corpus — a duplicated neighbor
  occupies multiple ranks, a duplicated query interleaves two ranked
  lists), so the PK contract is documented and
  ``similarity.ensure_unique_ids`` must REFUSE the corpus; clean
  data must pass the same guard untouched.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("SPARK_GRAFT_DUP_SRC", "/root/testdata/sf0.001")
sys.path.insert(0, REPO)

from streaming_data_lake_spark.catalog import TABLES  # noqa: E402
from tools.check import parity_lane  # noqa: E402


def _dup_rows(table: pa.Table, every: int) -> pa.Table:
    idx = list(range(0, table.num_rows, every))
    dup = table.take(pa.array(idx))
    return pa.concat_tables([table, dup])


def _dup_orders_fk(out: str) -> None:
    """Replay ~3% of orders verbatim WITH their lineitems."""
    o = pq.read_table(os.path.join(SRC, "orders.parquet"))
    li = pq.read_table(os.path.join(SRC, "lineitem.parquet"))
    keys = o.column("o_orderkey").to_pylist()[::33]
    kset = set(keys)
    o_idx = [i for i, k in enumerate(o.column("o_orderkey").to_pylist()) if k in kset]
    li_idx = [i for i, k in enumerate(li.column("l_orderkey").to_pylist()) if k in kset]
    pq.write_table(
        pa.concat_tables([o, o.take(pa.array(o_idx))]),
        os.path.join(out, "orders.parquet"),
    )
    pq.write_table(
        pa.concat_tables([li, li.take(pa.array(li_idx))]),
        os.path.join(out, "lineitem.parquet"),
    )


LANES = {
    "dup-events": {"events": 20},
    "dup-documents": {"documents": 20},
    "dup-orders": "fk",
}


def build(lane: str, spec) -> str:
    out = tempfile.mkdtemp(prefix=f"dupkeys_{lane}_")
    special = spec == "fk"
    for t in TABLES:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if special and t in ("orders", "lineitem"):
            continue  # written by _dup_orders_fk below
        if not special and t in spec:
            pq.write_table(_dup_rows(pq.read_table(src), spec[t]), dst)
        else:
            shutil.copy(src, dst)
    if special:
        _dup_orders_fk(out)
    return out


def _guard_lane() -> bool:
    """dup-embeddings: the PK guard must REFUSE a replayed corpus and
    pass a clean one (in-process — one Spark session, no subprocess)."""
    from streaming_data_lake_spark.catalog import load_table
    from streaming_data_lake_spark.operators.similarity import ensure_unique_ids
    from streaming_data_lake_spark.session import get_spark

    spark = get_spark("probe-dup-keys-guard")
    d = build("dup-embeddings", {"embeddings": 20})
    try:
        clean = load_table(spark, SRC, "embeddings")
        if ensure_unique_ids(clean, strict=False) != 0:
            print("FAIL dup-embeddings: clean corpus flagged", flush=True)
            return False
        duped = load_table(spark, d, "embeddings")
        try:
            ensure_unique_ids(duped)
        except ValueError:
            print("PASS dup-embeddings: guard refused the replayed corpus", flush=True)
            return True
        print("FAIL dup-embeddings: guard admitted duplicated vec_ids", flush=True)
        return False
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    ok = True
    for lane, spec in LANES.items():
        d = build(lane, spec)
        ok = parity_lane(lane, d) and ok
        shutil.rmtree(d, ignore_errors=True)
    ok = _guard_lane() and ok
    print("ALL GREEN" if ok else "PROBE FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

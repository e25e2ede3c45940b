"""ALL-NULL column probe (r15).

The edge sweep NULLs ~2-5% of every non-PK cell and the empty sweep
runs on ZERO-row tables; between them sits an unprobed shape: a
table with rows whose entire column is NULL — what a broken upstream
writer or a dropped-then-readded column actually produces. Distinct
hazards vs the swept shapes:

- all-NULL ``ts``: every admission predicate drops every row, so
  watermark scalars (max(ts)) are NULL over a NON-empty source —
  the empty-sweep's declared-schema path never sees this;
- all-NULL ``text``: tokenization/shingles produce empty arrays for
  every doc (not zero docs);
- all-NULL ``value``/group keys: aggregates over the single NULL
  group, NULL-group join semantics (engine joins drop NULL keys,
  oracle GROUP BY keeps a NULL group — the admission contracts must
  make both engines agree).

Runs the FULL registry parity (tools/check.py) on a mutated copy of
sf0.001 with, per lane, one column family forced entirely NULL.
Exit 0 + "ALL GREEN" when every lane holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("SPARK_GRAFT_NULL_SRC", "/root/testdata/sf0.001")
sys.path.insert(0, REPO)

from streaming_data_lake_spark.catalog import TABLES  # noqa: E402
from tools.check import parity_lane  # noqa: E402

# lane -> {table: [columns to NULL]}
LANES = {
    "null-ts": {"events": ["ts"]},
    "null-text": {"documents": ["text"]},
    "null-values": {"events": ["value", "props"], "lineitem": ["l_quantity"]},
    "null-groupkeys": {
        "events": ["event_type", "user_id"],
        "lineitem": ["l_returnflag", "l_linestatus"],
        "documents": ["lang", "source"],
    },
    "null-embeddings": {"embeddings": ["embedding", "label"]},
}


def build(lane: str, spec: dict[str, list[str]]) -> str:
    out = tempfile.mkdtemp(prefix=f"allnull_{lane}_")
    for t in TABLES:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        cols = spec.get(t)
        if not cols:
            shutil.copy(src, dst)
            continue
        table = pq.read_table(src)
        for c in cols:
            idx = table.schema.get_field_index(c)
            typ = table.schema.field(c).type
            table = table.set_column(
                idx, c, pa.nulls(table.num_rows, type=typ)
            )
        pq.write_table(table, dst)
    return out


def main() -> int:
    ok = True
    for lane, spec in LANES.items():
        d = build(lane, spec)
        ok = parity_lane(lane, d) and ok
        shutil.rmtree(d, ignore_errors=True)
    print("ALL GREEN" if ok else "PROBE FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

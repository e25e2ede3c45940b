"""Golden suite: every registered query hash-matches its DuckDB
oracle at sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tools.check import norm_rows


def _all_queries():
    from streaming_data_lake_spark.queries import all_queries

    return sorted(all_queries().items())


@pytest.mark.parametrize("name,query", _all_queries(), ids=lambda x: x if isinstance(x, str) else "")
def test_query_matches_oracle(name, query, spark, duck):
    sdf = query.fn(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(query.oracle)
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    sc, sr = norm_rows(s_cols, s_rows)
    dc, dr = norm_rows(d_cols, d_rows)
    assert sc == dc, f"{name}: column mismatch {sc} vs {dc}"
    assert len(sr) == len(dr), f"{name}: row count {len(sr)} vs {len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        assert a == b, f"{name}: row {i} differs: {a} vs {b}"

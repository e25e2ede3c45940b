"""Registry invariants that hold in every round: each query is
registered exactly once, carries oracle SQL, and ``__spark_entry__``
exposes the registry in registration order."""

from __future__ import annotations

import pytest

import __spark_entry__
from streaming_data_lake_spark import queries
from streaming_data_lake_spark.queries import all_queries


def test_every_query_is_callable_and_oracle_typed():
    for name, q in all_queries().items():
        assert q.name == name
        assert callable(q.fn), name
        assert isinstance(q.oracle, str) and q.oracle.strip(), name


def test_entry_exposes_the_registration_order():
    qs = all_queries()
    assert list(qs) == list(queries.REGISTRY)
    assert list(__spark_entry__.queries()) == list(qs)
    assert list(__spark_entry__.oracle_sql()) == list(qs)


def test_register_rejects_a_duplicate_name(monkeypatch):
    monkeypatch.setattr(queries, "REGISTRY", {})

    @queries.register("dup_q", "SELECT 1 AS x")
    def first(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="dup_q"):

        @queries.register("dup_q", "SELECT 2 AS x")
        def second(spark, sf_dir):
            return None

    assert queries.REGISTRY["dup_q"].fn is first


@pytest.mark.parametrize("oracle", [None, "", "  \n"])
def test_register_rejects_a_missing_oracle(monkeypatch, oracle):
    monkeypatch.setattr(queries, "REGISTRY", {})
    with pytest.raises(ValueError, match="no_oracle_q"):
        queries.register("no_oracle_q", oracle)
    assert not queries.REGISTRY

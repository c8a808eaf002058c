"""Contract-address filter forms (compiler._apply_contract_filter).

The corpus census over all 7,062 reference defs: 5,590 bare literals,
1,188 ``ref()``-bearing SQL subqueries, 259 inline UNNEST address
lists, 15 nulls, 0 other.  The reference inlines every form into
``address IN (...)`` (parse_logs.sql:18-31); these tests pin the
engine equivalents: pushed ``isin`` for literal sets, Spark-SQL-
compiled subqueries over resolved upstream temp views for the rest.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ethereum_etl_airflow_spark.plans.compiler import (
    _contract_literals,
    _ref_view_name,
    compile_spec,
)
from ethereum_etl_airflow_spark.plans.spec import parse_spec

A1 = "0x" + "11" * 20
A2 = "0x" + "22" * 20
A3 = "0x" + "33" * 20


def _spec(contract):
    return parse_spec(
        {
            "parser": {
                "type": "log",
                "selector": "purchase",
                "contract_address": contract,
                "fields": [{"name": "k", "path": "$.k", "type": "bigint"}],
            },
            "table": {"dataset_name": "demo", "table_name": "t"},
        }
    )


def _feed(spark, addrs):
    rows = [(i, 0, a, "purchase", f'{{"k": {i}}}') for i, a in enumerate(addrs)]
    return spark.createDataFrame(
        rows, "event_id long, ts long, user_id string, event_type string, props string"
    )


def test_unnest_literal_extraction():
    ca = f"SELECT * FROM UNNEST(['{A1}', '{A2}'])"
    assert _contract_literals(ca) == [A1, A2]
    assert _contract_literals(A1) == [A1]
    assert _contract_literals(f"{A1},{A2}") == [A1, A2]


def test_unnest_contract_filters_to_listed_addresses(spark):
    spec = _spec(f"SELECT * FROM UNNEST(['{A1}', '{A2}'])")
    out = compile_spec(spec, _feed(spark, [A1, A2, A3, A1]))
    assert sorted(r["event_id"] for r in out.collect()) == [0, 1, 3]


def test_ref_subquery_selects_the_named_column(spark):
    """``SELECT col FROM ref('X')`` must semi-join on the SELECTed
    upstream column — the factory-created address lives in a DECODED
    field of the upstream output, not in its user_id."""
    spec = _spec("SELECT pair FROM ref('demo.factory')")
    upstream = spark.createDataFrame(
        [("0x" + "aa" * 20, A1), ("0x" + "aa" * 20, A2)], "user_id string, pair string"
    )
    out = compile_spec(
        spec, _feed(spark, [A1, A3, A2]), resolve_ref=lambda n: upstream
    )
    assert sorted(r["event_id"] for r in out.collect()) == [0, 2]


def test_ref_subquery_where_clause(spark):
    spec = _spec(
        "SELECT proxy FROM ref('demo.kernel') WHERE appId = 'finance'"
    )
    upstream = spark.createDataFrame(
        [(A1, "finance"), (A2, "voting")], "proxy string, appId string"
    )
    out = compile_spec(
        spec, _feed(spark, [A1, A2, A3]), resolve_ref=lambda n: upstream
    )
    assert [r["event_id"] for r in out.collect()] == [0]


def test_ref_subquery_union_of_two_refs(spark):
    spec = _spec(
        "SELECT DISTINCT pool FROM ref('demo.f1') "
        "UNION ALL SELECT pool FROM ref('demo.f2')"
    )
    ups = {
        "demo.f1": spark.createDataFrame([(A1,)], "pool string"),
        "demo.f2": spark.createDataFrame([(A2,)], "pool string"),
    }
    out = compile_spec(
        spec, _feed(spark, [A1, A2, A3]), resolve_ref=lambda n: ups[n]
    )
    assert sorted(r["event_id"] for r in out.collect()) == [0, 1]


def test_bare_ref_keeps_user_id_semantics(spark):
    spec = _spec("ref('demo.base')")
    upstream = spark.createDataFrame([(A2, A1)], "user_id string, pair string")
    out = compile_spec(
        spec, _feed(spark, [A1, A2]), resolve_ref=lambda n: upstream
    )
    # bare form joins on the upstream's user_id (A2), not its pair col
    assert [r["event_id"] for r in out.collect()] == [1]


def test_ref_subquery_without_resolver_raises(spark):
    spec = _spec("SELECT pair FROM ref('demo.factory')")
    with pytest.raises(ValueError, match="resolve_ref"):
        compile_spec(spec, _feed(spark, [A1]))


def test_ref_subquery_with_two_columns_raises(spark):
    spec = _spec("SELECT pair, user_id FROM ref('demo.factory')")
    upstream = spark.createDataFrame([(A2, A1)], "user_id string, pair string")
    with pytest.raises(ValueError, match="one column, got 2"):
        compile_spec(spec, _feed(spark, [A1]), resolve_ref=lambda n: upstream)


def test_ref_view_names_are_injective(spark):
    names = ["a.b_c", "a_b.c", "a_b_c", "a.b.c", "a-b.c", "a_2e_b"]
    views = [_ref_view_name(n) for n in names]
    assert len(set(views)) == len(names)
    # two refs whose old view names collided resolve to their own data
    spec = _spec(
        "SELECT pool FROM ref('demo.b_c') UNION ALL SELECT pool FROM ref('demo_b.c')"
    )
    ups = {
        "demo.b_c": spark.createDataFrame([(A1,)], "pool string"),
        "demo_b.c": spark.createDataFrame([(A2,)], "pool string"),
    }
    out = compile_spec(
        spec, _feed(spark, [A1, A2, A3]), resolve_ref=lambda n: ups[n]
    )
    assert sorted(r["event_id"] for r in out.collect()) == [0, 1]

"""Which FILTER shapes stay scan-pushable — parser only, no SparkSession.

Every FILTER parses through the one expression grammar; the lowering
pass then maps the linearisable shapes onto the leaves execute_bgp
pushes into the scans (Filter / VarFilter / _TermFilter / Bound / Not /
And / Or). A change to an expected leaf here is a change in what
reaches the scans as PushedFilters.
"""

import pytest

from hbase_rdf_spark.plans.bgp import Filter, VarFilter
from hbase_rdf_spark.plans.expr import Expr, _TermFilter
from hbase_rdf_spark.plans.filters import Bound, Not, Or
from hbase_rdf_spark.plans.sparql import parse

PAT = "?s <http://ex/p> ?a ; <http://ex/q> ?b ; <http://ex/r> ?x ; <http://ex/t> ?p ."

CASES = [
    # the bench `optional` template's filter
    ("!BOUND(?a) || ?a >= 40",
     [Or([Not(Bound("?a")), Filter("?a", ">=", 40.0)])]),
    ("?x = <http://ex/o>", [_TermFilter("?x", "=", "http://ex/o")]),
    ('?x != "lit"', [_TermFilter("?x", "!=", ("lit", 1))]),
    ("sameTerm(?x, <http://ex/o>)", [_TermFilter("?x", "=", "http://ex/o")]),
    ("?a < ?b + 3", [VarFilter("?a", "<", 0.0, other="?b", offset=3.0)]),
    ("?p + 1 IN (2, 3)",
     [Or([Filter("?p", "=", 1.0), Filter("?p", "=", 2.0)])]),
    ("?p NOT IN (1, <http://ex/o>)",
     [Not(Or([Filter("?p", "=", 1.0), _TermFilter("?p", "=", "http://ex/o")]))]),
    ("-?p > 4", [Filter("?p", "<", -4.0)]),
    ("3 < ?p", [Filter("?p", ">", 3.0)]),
    # a top-level conjunction splits so each conjunct pushes on its own
    ("?a > 1 && ?b < 5 && ?a != ?b",
     [Filter("?a", ">", 1.0), Filter("?b", "<", 5.0),
      VarFilter("?a", "!=", 0.0, other="?b", offset=0.0)]),
]


@pytest.mark.parametrize("expr,leaves", CASES, ids=[c[0] for c in CASES])
def test_filter_lowers_to_pushable_leaves(expr, leaves):
    q = parse(f"SELECT ?s WHERE {{ {PAT} FILTER({expr}) }}")
    assert q.filters == leaves


def test_non_linear_filter_stays_one_general_node():
    q = parse(f"SELECT ?s WHERE {{ {PAT} FILTER((?p - 2) * ?a > 0) }}")
    assert len(q.filters) == 1 and isinstance(q.filters[0], Expr)
    assert q.filters[0].vars() == {"p", "a"}

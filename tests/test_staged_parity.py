"""Registration checks and query laws for the queries defined in
``clickbom_spark/queries/staged.py``.  Their oracle parity runs in
tests/test_parity.py::test_oracle_parity."""

from __future__ import annotations

import pytest

from clickbom_spark.queries import REGISTRY, query
from tests.conftest import SF_CORRECT
from tests.test_parity import module_queries, unregistered_functions

QUERIES = module_queries("staged")


def test_staged_wave_is_live():
    """Every query function staged.py defines is registered."""
    assert QUERIES
    assert not unregistered_functions("staged")


def test_activation_did_not_shadow_live_queries():
    """A second registration of any staged.py name is refused and
    leaves the registered spec in place."""
    for name, spec in QUERIES.items():
        with pytest.raises(ValueError, match="already registered"):
            query(name, oracle=spec.oracle)(spec.fn)
        assert REGISTRY[name] is spec


def test_quantile_sketch_query_reports_tight_bounds(spark):
    """The sketch query's invariant columns (now oracle-asserted as
    constants) must actually hold: weight conservation and rank error
    within the KLL guarantee band at k=256."""
    rows = QUERIES["q_quantile_sketch"].fn(spark, SF_CORRECT).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["weight_conserved"] is True
        assert r["rank_within_bound"] is True, r["prob"]

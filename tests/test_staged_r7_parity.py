"""Oracle parity and registration checks for the queries defined in
``clickbom_spark/queries/staged_r7.py``."""

from __future__ import annotations

import pytest

from clickbom_spark.queries import REGISTRY
from tests.test_parity import (
    check_oracle_parity,
    module_queries,
    unregistered_functions,
)

QUERIES = module_queries("staged_r7")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_staged_r7_oracle_parity(spark, name):
    check_oracle_parity(spark, QUERIES[name])


def test_staged_r7_wave_is_live():
    """Every query function staged_r7.py defines is registered."""
    assert QUERIES
    assert not unregistered_functions("staged_r7")


def test_registry_satisfies_driver_contract():
    for name, spec in REGISTRY.items():
        assert callable(spec.fn), name
        assert isinstance(spec.oracle, str), name
        assert spec.name == name

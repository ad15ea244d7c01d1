"""Oracle parity and registration checks for the queries defined in
``clickbom_spark/queries/staged_r11.py``."""

from __future__ import annotations

import pytest

from tests.test_parity import (
    check_oracle_parity,
    module_queries,
    unregistered_functions,
)

QUERIES = module_queries("staged_r11")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_staged_r11_oracle_parity(spark, name):
    check_oracle_parity(spark, QUERIES[name])


def test_staged_r11_activated_identically():
    """Every query function staged_r11.py defines is registered."""
    assert QUERIES
    assert not unregistered_functions("staged_r11")


def test_staged_r11_every_query_has_oracle():
    for name, spec in QUERIES.items():
        assert isinstance(spec.oracle, str) and spec.oracle.strip(), name

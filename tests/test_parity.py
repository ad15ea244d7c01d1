"""Oracle-parity harness — mirrors the driver's correctness gate.

For every registered query: run the Spark implementation and the DuckDB
oracle SQL on the same parquet tables, then compare row count, column
names, and (order-insensitively) exact values.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from clickbom_spark.queries import REGISTRY, query
from tests.conftest import SF_CORRECT

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con.execute(sql).df()
    finally:
        con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


# Streaming-replay parity members take 15-25s each (three sequential
# micro-batch epochs per side); their replay laws are also covered by
# tests/test_streaming_dedup.py and the driver's own oracle rotation.
# They run in the slow lane so the fast lane fits the driver's window.
_SLOW_PARITY = {"q_stream_neardup_filter", "q_stream_scd2_incremental"}

ORACLE_QUERIES = [
    pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_PARITY else n
    for n in sorted(REGISTRY)
]


def test_query_rejects_duplicate_name():
    """Registration is the only way into REGISTRY, so a second module
    claiming a live name fails at import time instead of silently
    rebinding it."""
    name, spec = next(iter(REGISTRY.items()))
    with pytest.raises(ValueError, match="already registered"):
        query(name, oracle="SELECT 1 AS x")(lambda spark, sf_dir: None)
    assert REGISTRY[name] is spec


def test_query_requires_oracle():
    for oracle in (None, "", "   "):
        with pytest.raises(ValueError, match="oracle"):
            query("q_without_oracle", oracle=oracle)
    assert "q_without_oracle" not in REGISTRY


def module_queries(module: str) -> dict:
    """The REGISTRY entries whose function is defined in
    ``clickbom_spark.queries.<module>``, by name."""
    full = f"clickbom_spark.queries.{module}"
    return {n: s for n, s in REGISTRY.items() if s.fn.__module__ == full}


def unregistered_functions(module: str) -> list[str]:
    """The top-level ``q_*`` functions of ``clickbom_spark.queries.<module>``
    that no REGISTRY entry calls (a query missing its ``@query``)."""
    import importlib
    import inspect

    mod = importlib.import_module(f"clickbom_spark.queries.{module}")
    live = {id(s.fn) for s in REGISTRY.values()}
    return sorted(
        n for n, f in vars(mod).items()
        if n.startswith("q_") and inspect.isfunction(f)
        and f.__module__ == mod.__name__ and id(f) not in live
    )


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    check_oracle_parity(spark, REGISTRY[name])


def check_oracle_parity(spark, spec) -> None:
    sdf = spec.fn(spark, SF_CORRECT).toPandas()
    odf = run_oracle(spec.oracle, SF_CORRECT)
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count: spark={len(sdf)} oracle={len(odf)}"
    s, o = canon(sdf), canon(odf)
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError:
        # Surface a small diff sample for debugging before re-raising.
        diff_cols = []
        for c in s.columns:
            if not s[c].equals(o[c]):
                diff_cols.append(c)
        raise AssertionError(
            f"value mismatch in columns {diff_cols}\n"
            f"spark head:\n{s.head(5)}\noracle head:\n{o.head(5)}"
        )


def test_bm25_zero_token_doc_parity(spark, tmp_path):
    """avgdl must include zero-token documents on BOTH sides: the
    engine computes dl as a per-row size() over all docs; an oracle
    that derived dl by unnest-then-count silently dropped empty docs
    and shifted every score (latent in the driver corpora, which have
    no empty docs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "doc_id": [0, 1, 2, 3],
        "text": ["join hash merge join", "   ", "hash hash words here", "merge join words"],
        "lang": ["en"] * 4,
        "source": ["s"] * 4,
        "n_chars": [20, 3, 20, 16],
    }
    pq.write_table(pa.table(rows), str(tmp_path / "documents.parquet"))
    spec = REGISTRY["q_bm25_search"]
    sdf = spec.fn(spark, str(tmp_path)).toPandas()
    odf = run_oracle(spec.oracle, str(tmp_path))
    assert len(sdf) == len(odf) > 0
    pd.testing.assert_frame_equal(
        canon(sdf), canon(odf), check_dtype=False, check_exact=True
    )


"""The benchmark workloads.

Each workload names the engine modules it imports (``modules``), makes
its inputs and their expected outputs from the seed (``prepare``),
names the ops of one pass (``ops``), runs one op (``run``) and checks
its output (``check``).  ``run`` takes a trace context: with tracing off
its steps are no-ops, with tracing on they become spans with Spark
counters and the lazy layer outputs are forced one by one, so a layer's
cost can be read by difference.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter
from contextlib import contextmanager, nullcontext

from perfbench import corpus, tables

CH_DATABASE = "bench"

# The analytics list, frozen here so that a change to the registry's
# ``bench`` flags cannot change the workload: the sixteen core queries
# plus three ClickHouse-dialect queries that run through the SQL shim.
ANALYTICS_QUERIES = [
    "q10_returned_item_customers", "q18_large_orders", "q1_pricing_summary",
    "q3_shipping_priority", "q5_region_revenue", "q6_forecast_revenue",
    "q9_nation_year_profit", "q_cosine_topk", "q_explode_words",
    "q_minhash_lsh_dedup", "q_theta_join_event_pairs",
    "q_tumbling_window_events", "q_window_rank_orders",
    "q_hll_distinct", "q_triangle_count", "q_weighted_quantiles",
    "q_dialect_scalar_with", "q_dialect_colon_cast", "q_dialect_view_setop",
]


class NoTrace:
    """Trace context of an untraced op: every step is free."""

    active = False

    def op_scope(self):
        return nullcontext()

    def step(self, name):
        return nullcontext()

    def force(self, name, df):
        pass


class TraceCtx:
    """Trace context of a traced op.  ``step`` records a span and the
    Spark counters of the jobs run inside it; ``force`` runs a lazy
    layer's output to completion with a ``noop`` write."""

    active = True

    def __init__(self, tracer, counters, instrumented, op_id: int):
        self.tracer, self.counters, self.instr, self.op_id = tracer, counters, instrumented, op_id

    def op_scope(self):
        return self.tracer.span("op")

    @contextmanager
    def step(self, name):
        self.counters.begin(f"{self.op_id}-{name}")
        with self.tracer.span(name) as s:
            yield
        s["counters"] = self.counters.end()

    def force(self, name, df):
        with self.step(name):
            df.write.format("noop").mode("overwrite").save()

    def returned(self, span_name):
        return self.instr.returned.get(span_name)


def lake_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet lake directory."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def read_lake(path: str) -> list[tuple]:
    """Lake rows as (name, version, license, source, purl)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([("source", pa.string())]), flavor="hive")
    t = ds.dataset(path, format="parquet", partitioning=part).to_table()
    cols = [t.column(c).to_pylist() for c in ("name", "version", "license", "source", "purl")]
    return list(zip(*cols))


class MergeBulk:
    """EP2 over a seeded bucket: scan, gates, explode, dedup, then the
    lake, ClickHouse and merged-document sinks."""

    name = "merge_bulk"
    modules = ("clickbom_spark.engine", "clickbom_spark.io.sinks", "clickbom_spark.io.clickhouse")
    min_passes = 3  # a median of three jobs; a run's seconds hold two

    def __init__(self):
        self.ch = None  # the ClickHouse stand-in, set by the runner
        self.last_out: dict = {}

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.corpus = corpus.write_merge_corpus(os.path.join(work, "corpus"), seed)
        expected = corpus.reference_merge(self.corpus)
        self.full = (self.corpus, expected, corpus.sorted_doc_components(expected.rows))

    def ops(self):
        return [self.full]

    def input_rows(self, op) -> int:
        return op[1].input_rows

    def valid_ratio(self) -> float:
        return 1 - self.corpus.kinds["invalid"] / self.corpus.files

    def license_patched_ratio(self, op) -> float:
        return op[1].license_patched / max(1, len(op[1].rows))

    def run(self, spark, op, op_id: int, tr=NoTrace()):
        from clickbom_spark import engine
        from clickbom_spark.io import clickhouse, sinks
        from clickbom_spark.ops import merge as M

        c = op[0]
        base = os.path.join(self.work, "out", f"op-{op_id}")
        lake, doc = os.path.join(base, "lake"), os.path.join(base, "doc")
        cfg = engine.PipelineConfig(
            merge=True, include_patterns=corpus.INCLUDE, exclude_patterns=corpus.EXCLUDE,
            license_mappings_path=c.license_map_path)
        with tr.step("step.plan"):
            comps = engine.merge_pipeline(spark, c.path, cfg, output_key=corpus.OUTPUT_KEY)
        if tr.active:
            tr.force("force.ops.normalize", tr.returned("ops.normalize.valid_docs"))
            tr.force("force.ops.components", tr.returned("ops.components.cdx_components"))
            tr.force("force.ops.merge", tr.returned("ops.merge.dedup_components"))
            tr.force("force.pipeline", comps)
        with tr.step("step.sink.lake"):
            sinks.write_components_lake(comps, lake)
        table = f"sbom_merged_{op_id}"
        with tr.step("step.sink.clickhouse"):
            sink = clickhouse.ClickHouseSink(clickhouse.http_transport(self.ch.url), CH_DATABASE, table)
            sink.setup()
            sink.insert_components(comps)
        with tr.step("step.plan.assemble"):
            merged = M.assemble_merged_doc(comps)
        tr.force("force.ops.merge.assemble", merged)
        with tr.step("step.sink.doc"):
            sinks.write_sbom_document(merged, doc)
        return base, table

    def check(self, op, out) -> bool:
        """The ClickHouse rows, the lake rows and the merged document's
        component list must each equal the reference."""
        base, table = out
        _, expected, expected_doc = op
        got = self.ch.rows(f"{CH_DATABASE}.{table}", drop=True)
        ok = Counter(got) == Counter((n, v, lic, src) for n, v, lic, src, _ in expected.rows)
        lake = os.path.join(base, "lake")
        files, size = lake_stats(lake)
        self.last_out = {"rows_out": len(got), "lake_files": files, "lake_bytes": size}
        ok = Counter(read_lake(lake)) == Counter(expected.rows) and ok
        docs = []
        for part in glob.glob(os.path.join(base, "doc", "part-*")):
            with open(part) as f:
                docs.extend(json.loads(line) for line in f if line.strip())
        return ok and len(docs) == 1 and docs[0].get("components") == expected_doc


# ---- analytics -------------------------------------------------------------

def canonical_hash(df) -> str:
    """Order-insensitive digest of a result frame: columns sorted by
    name, numbers compared as float64, rows sorted."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(df[c]) or pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def oracle_frame(sql: str, tables_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t)}.parquet'")
        return con.execute(sql).df()
    finally:
        con.close()


class AnalyticsCore:
    """The frozen registry query list over seeded tables; each result is
    compared with its DuckDB oracle."""

    name = "analytics_core"
    modules = ("clickbom_spark.queries",)
    min_passes = 1

    def prepare(self, work: str, seed: int) -> None:
        from clickbom_spark.queries import REGISTRY

        self.dir = os.path.join(work, "tables")
        tables.write_tables(self.dir, seed)
        self.expected = {q: canonical_hash(oracle_frame(REGISTRY[q].oracle, self.dir))
                         for q in ANALYTICS_QUERIES}

    def ops(self):
        return ANALYTICS_QUERIES

    def run(self, spark, q, op_id: int, tr=NoTrace()):
        from clickbom_spark.queries import REGISTRY

        with tr.step("step.plan"):
            df = REGISTRY[q].fn(spark, self.dir)
        with tr.step("step.execute"):
            return df.toPandas()

    def check(self, q, out) -> bool:
        return canonical_hash(out) == self.expected[q]


WORKLOADS = {w.name: w for w in (MergeBulk, AnalyticsCore)}

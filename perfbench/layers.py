"""The traced phase of a ``--trace 1`` run and its per-layer metrics.

Spans come from wrappers around the public functions of each engine
module (``Instrumented``), from the op's own steps (plan, each sink)
and from ``noop`` writes that force each lazy layer's output.  Forced
layers are cumulative (forcing the dedup re-runs the scan and the
explode), so a layer's own execution time is its forced time minus the
forced time of its input.  Every metric of the ``per_layer`` list is
reported on every workload; a layer the workload does not reach
reports 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import Instrumented, SparkCounters, Tracer, self_times
from perfbench.workloads import ANALYTICS_QUERIES, TraceCtx

TARGETS = {
    "engine.merge_pipeline": ("clickbom_spark.engine", "merge_pipeline"),
    "ops.normalize.read_sboms": ("clickbom_spark.ops.normalize", "read_sboms"),
    "ops.normalize.valid_docs": ("clickbom_spark.ops.normalize", "valid_docs"),
    "ops.components.cdx_components": ("clickbom_spark.ops.components", "cdx_components"),
    "ops.components.source_reference_expr": ("clickbom_spark.ops.components", "source_reference_expr"),
    "ops.components.map_unknown_licenses": ("clickbom_spark.ops.components", "map_unknown_licenses"),
    "ops.components.load_license_mappings": ("clickbom_spark.ops.components", "load_license_mappings"),
    "ops.merge.filename_filter": ("clickbom_spark.ops.merge", "filename_filter"),
    "ops.merge.exclude_output_key": ("clickbom_spark.ops.merge", "exclude_output_key"),
    "ops.merge.cyclonedx_gate": ("clickbom_spark.ops.merge", "cyclonedx_gate"),
    "ops.merge.dedup_components": ("clickbom_spark.ops.merge", "dedup_components"),
    "ops.merge.assemble_merged_doc": ("clickbom_spark.ops.merge", "assemble_merged_doc"),
    "io.sinks.write_components_lake": ("clickbom_spark.io.sinks", "write_components_lake"),
    "io.sinks.write_sbom_document": ("clickbom_spark.io.sinks", "write_sbom_document"),
    "io.clickhouse.setup": ("clickbom_spark.io.clickhouse", "ClickHouseSink.setup"),
    "io.clickhouse.insert_components": ("clickbom_spark.io.clickhouse", "ClickHouseSink.insert_components"),
    "dialect.translate_clickhouse_sql": ("clickbom_spark.dialect", "translate_clickhouse_sql"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class OpSpans:
    """The spans of one traced op, with self times precomputed."""

    def __init__(self, spans: list[dict], selft: dict[int, float]):
        self.spans, self.selft = spans, selft

    def dur(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_sum(self, prefix: str, exclude: tuple[str, ...] = ()) -> float:
        return sum(self.selft[s["id"]] for s in self.spans
                   if s["name"].startswith(prefix) and s["name"] not in exclude)

    def count(self, key: str, prefix: str = "step.", name: str | None = None) -> int:
        return sum(s["counters"][key] for s in self.spans if "counters" in s
                   and (s["name"] == name if name else s["name"].startswith(prefix)))

    def diff(self, later: str, earlier: str) -> float:
        """A cumulative span minus the span of its input, when both ran."""
        if not self.dur(later):
            return 0.0
        return self.dur(later) - self.dur(earlier)


def traced_phase(runner, spark, seconds, work) -> dict:
    """Run traced ops for ``seconds / 2`` of op time and keep their spans,
    records and endpoint counts.  The spans are written out as JSON."""
    w = runner.w
    tracer = Tracer()
    counters = SparkCounters(spark)
    ch = getattr(w, "ch", None)
    ch0 = dict(ch.counts) if ch else {}
    instr = Instrumented(tracer, TARGETS)

    def factory(op_id):
        tracer.op_id = op_id
        return TraceCtx(tracer, counters, instr, op_id)

    try:
        records, _ = runner.loop(spark, seconds / 2, factory)
    finally:
        instr.restore()
    trace_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.dump(os.path.join(trace_dir, f"{os.path.basename(work)}.json"))
    ch_delta = {k: v - ch0.get(k, 0) for k, v in ch.counts.items()} if ch else {}
    return {"spans": tracer.spans, "records": records, "ch": ch_delta}


def per_layer(runner, traced: dict, untraced: list[dict], stages: dict, cpus) -> dict:
    """Every per-layer metric, from the traced phase, the untraced loop
    and the set-up's stages (``imports_s``, ``create_s``, ``warmup_s``)."""
    w = runner.w
    spans, traced_recs, chd = traced["spans"], traced["records"], traced["ch"]
    selft = self_times(spans)
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op_id"], []).append(s)
    ops = [OpSpans(v, selft) for v in by_op.values()]
    n = max(1, len(traced_recs))

    def per_op(fn) -> float:
        return _mean(fn(o) for o in ops)

    # Sink outputs are recorded for the ops that passed their check.
    out_recs = [r for r in traced_recs if "rows_out" in r]
    lake_recs = [r for r in untraced + traced_recs if "lake_bytes" in r]
    is_queries = w.name == "analytics_core"

    m = {
        "session.imports_s": (stages["imports_s"], "s"),
        "session.create_s": (stages["create_s"], "s"),
        "session.warmup_s": (stages["warmup_s"], "s"),
        "ops.normalize.plan_ms": (1e3 * per_op(lambda o: o.self_sum("ops.normalize.")), "ms"),
        "ops.normalize.scan_s": (per_op(lambda o: o.dur("force.ops.normalize")), "s"),
        "ops.normalize.files_read": (per_op(lambda o: o.count("input_records", name="force.ops.normalize")), "count"),
        "ops.normalize.input_bytes": (per_op(lambda o: o.count("input_bytes", name="force.ops.normalize")), "B"),
        "ops.normalize.valid_ratio": (0.0 if is_queries else w.valid_ratio(), "ratio"),
        "ops.normalize.scans_per_job": (0.0 if is_queries else per_op(lambda o: o.count("scans")), "count"),
        "ops.components.plan_ms": (1e3 * per_op(lambda o: o.self_sum(
            "ops.components.", exclude=("ops.components.load_license_mappings",))), "ms"),
        "ops.components.license_load_ms": (1e3 * per_op(lambda o: o.dur("ops.components.load_license_mappings")), "ms"),
        "ops.components.explode_s": (per_op(lambda o: o.diff("force.ops.components", "force.ops.normalize")), "s"),
        "ops.components.rows_out": (_mean(r["rows_out"] for r in out_recs), "count"),
        "ops.components.license_patched_ratio": (
            0.0 if is_queries else _mean(w.license_patched_ratio(r["op"]) for r in traced_recs), "ratio"),
        "ops.merge.plan_ms": (1e3 * per_op(lambda o: o.self_sum(
            "ops.merge.", exclude=("ops.merge.assemble_merged_doc",))), "ms"),
        "ops.merge.dedup_s": (per_op(lambda o: o.diff("force.ops.merge", "force.ops.components")), "s"),
        "ops.merge.shuffle_write_bytes": (per_op(lambda o: o.count("shuffle_write_bytes", name="force.ops.merge")), "B"),
        "ops.merge.spill_bytes": (per_op(lambda o: o.count("spill_bytes", name="force.ops.merge")), "B"),
        "ops.merge.assemble_s": (per_op(lambda o: o.diff("force.ops.merge.assemble", "force.pipeline")), "s"),
        "ops.merge.dedup_keep_ratio": (
            0.0 if is_queries else _mean(r["rows_out"] / w.input_rows(r["op"]) for r in out_recs), "ratio"),
        "io.sinks.lake_write_s": (per_op(lambda o: o.diff("io.sinks.write_components_lake", "force.pipeline")), "s"),
        "io.sinks.doc_write_s": (per_op(lambda o: o.diff("io.sinks.write_sbom_document", "force.ops.merge.assemble")), "s"),
        "io.sinks.lake_files": (_mean(r["lake_files"] for r in lake_recs), "count"),
        "io.sinks.lake_bytes": (_mean(r["lake_bytes"] for r in lake_recs), "B"),
        "io.sinks.lake_bytes_per_row": (
            sum(r["lake_bytes"] for r in lake_recs) / max(1, sum(r["rows_out"] for r in lake_recs)), "B/row"),
        "io.clickhouse.setup_s": (per_op(lambda o: o.dur("io.clickhouse.setup")), "s"),
        "io.clickhouse.insert_s": (per_op(lambda o: o.diff("io.clickhouse.insert_components", "force.pipeline")), "s"),
        "io.clickhouse.posts": (chd.get("posts", 0) / n, "count"),
        "io.clickhouse.bytes_posted": (chd.get("bytes_posted", 0) / n, "B"),
        "io.clickhouse.rows_per_post": (chd.get("rows", 0) / max(1, chd.get("inserts", 0)), "count"),
        "io.clickhouse.server_busy_s": (chd.get("busy_s", 0.0) / n, "s"),
        "io.clickhouse.failed_posts": (chd.get("failed_posts", 0), "count"),
    }
    for q in ANALYTICS_QUERIES:
        times = [r["s"] for r in untraced if r["op"] == q]
        m[f"queries.{q}_s"] = (statistics.median(times) if times else 0.0, "s")
    m.update({
        "queries.plan_ms": (1e3 * per_op(lambda o: o.self_sum("step.plan")) if is_queries else 0.0, "ms"),
        "queries.shuffle_write_bytes": (per_op(lambda o: o.count("shuffle_write_bytes")) if is_queries else 0.0, "B"),
        "queries.spill_bytes": (per_op(lambda o: o.count("spill_bytes")) if is_queries else 0.0, "B"),
        "dialect.translate_ms": (1e3 * _mean(
            s["end"] - s["start"] for s in spans if s["name"] == "dialect.translate_clickhouse_sql"), "ms"),
        "spark.jobs_per_op": (per_op(lambda o: o.count("jobs")), "count"),
        "spark.stages_per_op": (per_op(lambda o: o.count("stages")), "count"),
        "spark.tasks_per_op": (per_op(lambda o: o.count("tasks")), "count"),
        "spark.cpus": (cpus, "count"),
        "trace.overhead_s": (statistics.median(r["s"] for r in traced_recs)
                             - statistics.median(r["s"] for r in untraced), "s"),
        "trace.spans": (len(spans), "count"),
    })
    return m

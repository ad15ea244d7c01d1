"""Tests of the benchmark's own parts: input generators, the reference,
span arithmetic, failure accounting and the ClickHouse stand-in.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
from collections import Counter

import pytest

from perfbench import corpus, tables
from perfbench.chserver import ClickHouseStub, unescape_tsv
from perfbench.run import Runner
from perfbench.trace import covered, self_times


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = corpus.write_merge_corpus(str(tmp_path / "a"), 7, n_docs=30, components_per_doc=10)
    b = corpus.write_merge_corpus(str(tmp_path / "b"), 7, n_docs=30, components_per_doc=10)
    c = corpus.write_merge_corpus(str(tmp_path / "c"), 8, n_docs=30, components_per_doc=10)
    names = _tree(tmp_path / "a")
    assert names == _tree(tmp_path / "b")
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    assert (a.files, a.input_bytes, a.kinds) == (b.files, b.input_bytes, b.kinds)
    assert c.input_bytes != a.input_bytes
    for kind in ("cyclonedx", "spdx", "wrapped", "invalid", "excluded", "not_included", "output_key"):
        assert a.kinds[kind] >= 1


def test_tables_are_deterministic_per_seed():
    a, b, c = tables.build_tables(3), tables.build_tables(3), tables.build_tables(4)
    assert set(a) == set(tables.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_reference_dedup_and_license_rules(tmp_path):
    c = corpus.write_merge_corpus(str(tmp_path), 5, n_docs=200, components_per_doc=30)
    exp = corpus.reference_merge(c)
    keys = Counter((n, v, p, s) for n, v, _, s, p in exp.rows)
    assert max(keys.values()) == 1  # one row per dedup key
    assert len(exp.rows) < exp.input_rows  # Zipf names collapse
    assert exp.docs_accepted == c.kinds["cyclonedx"]
    assert exp.license_patched > 0
    assert any(lic == corpus.UNKNOWN for _, _, lic, _, _ in exp.rows)


def test_reference_license_fallback_chain():
    assert corpus.cdx_license({"licenses": [{"license": {"id": "MIT", "name": "x"}}]}) == "MIT"
    assert corpus.cdx_license({"licenses": [{"expression": "ISC"}]}) == "ISC"
    assert corpus.cdx_license({"licenses": [{}], "properties": [
        {"name": "spdx:license-concluded", "value": "BSD-2-Clause"}]}) == "BSD-2-Clause"
    assert corpus.cdx_license({"licenses": []}) == corpus.UNKNOWN
    assert corpus.cdx_license({}) == corpus.UNKNOWN


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_MASTER", "local[2]")
    from clickbom_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_reference_matches_engine(spark, tmp_path):
    from clickbom_spark import engine
    from clickbom_spark.ops import merge as M

    c = corpus.write_merge_corpus(str(tmp_path), 11, n_docs=40, components_per_doc=15)
    exp = corpus.reference_merge(c)
    cfg = engine.PipelineConfig(merge=True, include_patterns=corpus.INCLUDE,
                                exclude_patterns=corpus.EXCLUDE,
                                license_mappings_path=c.license_map_path)
    comps = engine.merge_pipeline(spark, c.path, cfg, output_key=corpus.OUTPUT_KEY)
    got = [(r["name"], r["version"], r["license"], r["source"], r["purl"]) for r in comps.collect()]
    assert Counter(got) == Counter(exp.rows)
    doc = M.assemble_merged_doc(comps).collect()[0].asDict(recursive=True)
    assert doc["components"] == corpus.sorted_doc_components(exp.rows)


def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "op_id": 0, "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps its sibling: union is 1..6
        _span(3, 1, 2.0, 3.0),   # grandchild: only its parent loses it
        _span(4, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


class _FakeWorkload:
    """Ops 'ok', 'raise' and 'wrong': one passes, one raises, one
    returns a result that fails the check.  Each check records the op's
    outputs, as the merge workload's does."""

    name = "fake"
    last_out: dict = {}

    def ops(self):
        return ["ok", "raise", "wrong"]

    def run(self, spark, op, op_id, tr):
        if op == "raise":
            raise ValueError("boom")
        return op

    def check(self, op, out):
        self.last_out = {"rows_out": len(out)}
        return out == "ok"


def test_failures_count_raised_and_wrong_results():
    r = Runner(_FakeWorkload())
    records, passes = r.loop(None, seconds=0.0)
    assert [rec["ok"] for rec in records] == [True, False, False]
    assert (r.attempted, r.failed) == (3, 2)
    assert len(passes) == 1
    # A failed op carries no outputs, not even those of the op before it.
    assert [rec.get("rows_out") for rec in records] == [2, None, None]


def test_loop_runs_at_least_min_passes():
    r = Runner(_FakeWorkload())
    records, passes = r.loop(None, seconds=0.0, min_passes=3)
    assert len(passes) == 3 and len(records) == 9


def test_clickhouse_stub_probes_and_tsv():
    with ClickHouseStub() as ch:
        tables_q = "SELECT count() FROM system.tables WHERE database = 'db' AND name = 't'"
        assert ch.handle(tables_q, b"") == (200, b"0\n")
        assert ch.handle("CREATE TABLE db.t (name String) ENGINE = MergeTree()", b"")[0] == 200
        assert ch.handle(tables_q, b"") == (200, b"1\n")
        cols_q = ("SELECT count() FROM system.columns WHERE database = 'db' AND "
                  "table = 't' AND name = 'source'")
        assert ch.handle(cols_q, b"") == (200, b"1\n")
        ins = "INSERT INTO db.t (name, version, license, source) SETTINGS x='y' FORMAT TSV"
        assert ch.handle(ins, b"a\\tb\t1\tL\\n2\ts\n")[0] == 200
        assert ch.handle(ins, b"only\tthree\tfields\n")[0] == 400
        assert ch.rows("db.t") == [("a\tb", "1", "L\n2", "s")]
        assert ch.handle("TRUNCATE TABLE db.t", b"")[0] == 200
        assert ch.rows("db.t") == []
    assert unescape_tsv("x\\\\y") == "x\\y"


def test_clickhouse_stub_serves_the_engine_sink():
    from clickbom_spark.io.clickhouse import ClickHouseSink, http_transport

    with ClickHouseStub() as ch:
        sink = ClickHouseSink(http_transport(ch.url), "db", "t")
        sink.setup()
        sink.setup(truncate_table=True)
        assert ch.rows("db.t") == []
        assert ch.counts["posts"] == 5 and ch.counts["failed_posts"] == 0

"""Physical-plan quality gates: pushdown, pruning, codegen, no stray Python.

These assert the *shape* of the plans, not timings — the properties that
must hold for the 100 TB regime (SURVEY.md §4):
column pruning reaches the parquet scan, filters push down, the flagship
predicate stays inside whole-stage codegen with no Python nodes, and the
dimension side of referential checks broadcasts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gojsonschema_spark.ops import dataset_checks as dc
from gojsonschema_spark.ops.webpages import generate_webpages, webpage_doc_column
from gojsonschema_spark.spark.engine import SparkValidator

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    generate_webpages(spark, 1000, partitions=4).write.parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_reaches_scan(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    docs = pages.select(webpage_doc_column().alias("doc"))
    v = SparkValidator({"type": "object", "required": ["url"],
                        "properties": {"lang": {"pattern": "^[a-z]{2}$"}}})
    plan = _plan(v.validate_json(docs, "doc", violations_col=None)
                 .agg(F.sum(F.col("valid").cast("int"))))
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    # html (binary payload) must NOT be read for a text/url validation
    assert "html" not in scan
    assert "url" in scan and "lang" in scan


def test_filter_pushdown(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    q = pages.filter(F.col("lang") == "en").select("url")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_flagship_plan_has_no_python_and_is_codegen(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    docs = pages.select(webpage_doc_column().alias("doc"))
    v = SparkValidator({
        "type": "object", "required": ["url", "lang"],
        "properties": {"url": {"type": "string", "format": "uri"},
                       "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
                       "warc_ts": {"type": "string", "format": "date-time"}}})
    assert v.uses_column_plan
    q = (v.validate_json(docs, "doc", violations_col=None)
         .agg(F.sum(F.col("valid").cast("int"))))
    q.collect()  # finalize AQE so codegen markers appear in the plan
    plan = _plan(q)
    # format:uri / date-time are SQL now — no Arrow/Python eval anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    import re
    assert re.search(r"\*\(\d+\) ", plan), "no WholeStageCodegen stages"


def test_referential_dim_broadcasts(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    dim = spark.createDataFrame([(f"host{i}.example.com",) for i in range(5)],
                                ["host"])
    fact = pages.select(F.regexp_extract("url", "https://([^/]+)/", 1).alias("host"))
    orphans = dc.referential_orphans(fact, "host", dim, "host")
    assert "BroadcastHashJoin" in _plan(orphans) or "BroadcastNestedLoopJoin" in _plan(orphans)


def test_two_pass_violations_python_sees_valid_attribute(spark, pages_path):
    """Pass 2 must receive the materialized valid bit, not re-evaluate the
    predicate inside the (non-codegen) Python input projection."""
    pages = spark.read.parquet(pages_path)
    docs = pages.select(webpage_doc_column().alias("doc"))
    v = SparkValidator({"type": "object", "required": ["url"]})
    plan = _plan(v.validate_json(docs, "doc"))
    arrow_lines = [l for l in plan.splitlines() if "ArrowEvalPython" in l]
    assert arrow_lines, "violations UDF expected"
    # the UDF argument list must reference the barrier attribute, not a
    # re-inlined parse_json(...) of the whole predicate
    assert "parseJson" not in arrow_lines[0]


def test_plan_built_once_per_validator(spark, monkeypatch):
    """A validator builds its Column DAG and UDFs once: a second
    violations_table call on a recursive-$ref (hybrid) schema reuses
    them instead of rebuilding the DAG node by node through py4j (~10k
    round trips for this schema). What remains is the schema-independent
    DataFrame plumbing (~400 calls on PySpark 4.1)."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    tree = {"definitions": {"node": {
        "type": "object", "required": ["name", "value"],
        "properties": {
            "name": {"type": "string", "minLength": 1, "maxLength": 32},
            "value": {"type": "integer", "minimum": 0, "maximum": 1000},
            "tags": {"type": "array", "maxItems": 4,
                     "items": {"type": "string", "pattern": "^[a-z]+$"}},
            "children": {"type": "array", "maxItems": 4,
                         "items": {"$ref": "#/definitions/node"}}},
        "additionalProperties": False}},
        "$ref": "#/definitions/node"}
    v = SparkValidator(tree)
    assert v.frontier_plan is not None
    df = spark.createDataFrame([(1, '{"name": "a", "value": 1}')],
                               "doc_id long, doc string")
    v.violations_table(df, "doc", ["doc_id"])
    gc.collect()
    # count this thread only: other threads release JVM objects meanwhile
    me, calls = threading.get_ident(), []
    send = ClientServerConnection.send_command

    def counting(self, *a, **k):
        if threading.get_ident() == me:
            calls.append(1)
        return send(self, *a, **k)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    v.violations_table(df, "doc", ["doc_id"])
    assert len(calls) < 1000, f"{len(calls)} py4j calls on a reused validator"


def test_drift_single_scan_per_side(spark, pages_path):
    """categorical_drift_kl must read each side ONCE: the histogram total
    comes from the grouped rows, not a second count() pass."""
    pages = spark.read.parquet(pages_path)
    out = dc.categorical_drift_kl(pages.filter(F.crc32("url") % 2 == 0),
                                  pages.filter(F.crc32("url") % 2 == 1),
                                  "lang")
    plan = _plan(out)
    n_scans = sum(1 for l in plan.splitlines() if "FileScan parquet" in l)
    assert n_scans == 2, f"expected 1 scan per side, plan has {n_scans}"


def test_violations_table_filters_before_python(spark, pages_path):
    """violations_table must place the valid-bit Filter BELOW the
    interpreter-UDF node: Python parses only the invalid subset."""
    pages = spark.read.parquet(pages_path)
    docs = pages.select(webpage_doc_column().alias("doc"))
    v = SparkValidator({"type": "object", "required": ["url"],
                        "properties": {"lang": {"pattern": "^[a-z]{2}$"}}})
    plan = _plan(v.violations_table(docs, "doc", []))
    lines = plan.splitlines()
    py = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    # exactly ONE Python eval: Catalyst must not clone the UDF below the
    # valid filter (InferFiltersFromGenerate + pushdown used to)
    assert len(py) == 1, plan
    # toString prints parents first: the valid-bit Filter must appear
    # BELOW the Python node
    below = [l for l in lines[py[0] + 1:] if "Filter" in l and "__gjs_v" in l]
    assert below, "no valid-bit Filter below the Python node:\n" + plan
    # ...and it must test the barriered ATTRIBUTE, not the substituted
    # predicate: FilterExec does no subexpression elimination, so an
    # inlined predicate re-evaluates the variant->map conversion once per
    # keyword reference (measured 3x the pass-1 cost before the r3 fix)
    assert all("try_variant_get" not in l for l in below), \
        "valid-bit predicate was substituted into FilterExec:\n" + plan


def test_no_row_python_in_any_driver_query(spark):
    """input_hint invariant, swept over the ENTIRE driver surface: no
    queries() entry may plan a row-at-a-time Python UDF (BatchEvalPython).
    Python is allowed only as Arrow-batched lanes (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas)."""
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    offenders = []
    for name, fn in entry.queries().items():
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python in: {offenders}"


def test_host_rollup_plan_is_pure_jvm_two_stage(spark):
    """host_quality_rollup: no Python, no broadcast, and exactly the
    two hash-aggregate shuffles (per-fp, then per-host) — the big one
    keyed on (host, fp) so it map-side combines."""
    from gojsonschema_spark.ops.web import host_quality_rollup

    df = spark.createDataFrame(
        [("h%d.com" % (i % 3), "some text %d" % i) for i in range(20)],
        "host string, text string")
    plan = (host_quality_rollup(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange") <= 4  # 2 shuffles (+AQE reads)


def test_multiclass_native_scoring_plan(spark):
    """score_multiclass_native: JVM-only, weights side broadcast."""
    from gojsonschema_spark.ops.classifier import score_multiclass_native

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    w = spark.createDataFrame([(0, 0, 1.0)], "fid long, c int, w double")
    plan = (score_multiclass_native(df, w, 64, "doc_id", ["x", "y"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "BroadcastHashJoin" in plan

"""The benchmark workloads.

Each workload owns its input generator, its validator construction, one
timed rep (a fresh DataFrame per rep, ending in an action) and the check
of that rep's output against the generator's planted labels.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from gojsonschema_spark.core.compiler import SchemaCompiler
from gojsonschema_spark.core.interpreter import validate_document
from gojsonschema_spark.core.jsonvalue import parse_json
from gojsonschema_spark.ops.pipeline import PipelineConfig, preprocess_corpus
from gojsonschema_spark.ops.webpages import FLAGSHIP_SCHEMA
from gojsonschema_spark.spark.columns import ColumnPlanCompiler, UnsupportedSchema
from gojsonschema_spark.spark.engine import SparkValidator

import inputs as gen

PACK_BUDGET = 256


class Workload:
    name = ""
    schema: dict = {}
    n_docs = 0

    def generate(self, seed: int, n_docs: int, path: str) -> gen.Inputs:
        raise NotImplementedError

    def validator(self) -> SparkValidator:
        return SparkValidator(self.schema)

    def build(self, spark, v: SparkValidator, path: str, rep_id: str):
        """Build one rep's DataFrame over the parquet at ``path`` (driver
        work only) and return the action that runs it. A rep is the
        build plus the action; the action returns what :meth:`check`
        needs."""
        raise NotImplementedError

    def check(self, spark, out, inp: gen.Inputs) -> list[str]:
        """Problems with one rep's output (empty list = correct)."""
        raise NotImplementedError

    def sample_problems(self, spark, v: SparkValidator,
                        inp: gen.Inputs) -> list[str]:
        """Per-document cross-check on the generator's fixed sample: the
        in-process interpreter reports exactly the planted violation
        keyword, or none for a valid doc."""
        problems = []
        for i, doc, planted in inp.sample:
            got = Counter(e.error_type for e in
                          validate_document(v.compiled, parse_json(doc)).errors)
            if got != Counter([planted] if planted else []):
                problems.append(f"doc {i}: planted {planted}, interpreter {dict(got)}")
        return problems

    def interpreter_sample(self, inp: gen.Inputs) -> list[str]:
        """Docs the Python interpreter handles in this workload."""
        return [d for _, d, planted in inp.sample if planted]


class NestedViolations(Workload):
    """violations_table over tree documents against the recursive
    TREE_SCHEMA, grouped by keyword. Deep docs pass the column plan's
    $ref unroll and are re-verdicted by the interpreter UDF; invalid docs
    are elaborated by the violations UDF."""

    name = "nested_violations"
    schema = gen.TREE_SCHEMA
    n_docs = 2_000

    def generate(self, seed, n_docs, path):
        return gen.generate_trees(seed, n_docs, path)

    def build(self, spark, v, path, rep_id):
        df = spark.read.parquet(path).select("doc_id", "doc")
        out = (v.violations_table(df, "doc", ["doc_id"])
               .groupBy("keyword")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("doc_id").alias("id_sum")))
        return lambda: {r.keyword: (r.n, r.id_sum) for r in out.collect()}

    def check(self, spark, out, inp):
        want = inp.expected["by_keyword"]
        return [f"keyword {k}: got (count, id sum) {out.get(k)}, planted {want.get(k)}"
                for k in sorted(set(out) | set(want)) if out.get(k) != want.get(k)]

    def sample_problems(self, spark, v, inp):
        """Adds two witnesses to the interpreter: the jsonschema
        Draft7Validator's keywords (the tree schema has no format keyword,
        so both libraries' semantics match keyword by keyword) and the
        Spark verdict. The Spark verdict matters here because the
        violations table cannot show a valid doc wrongly judged invalid:
        pass 2 re-validates it and emits no row."""
        import json

        import jsonschema

        problems = super().sample_problems(spark, v, inp)
        witness = jsonschema.Draft7Validator(self.schema)
        to_library = {js: lib for lib, js in gen.TREE_DEFECTS.values()}
        for i, doc, planted in inp.sample:
            theirs = Counter(to_library.get(e.validator, e.validator)
                             for e in witness.iter_errors(json.loads(doc)))
            if theirs != Counter([planted] if planted else []):
                problems.append(f"doc {i}: planted {planted}, jsonschema {dict(theirs)}")
        rows = (v.validate_json(
                    spark.createDataFrame([(i, d) for i, d, _ in inp.sample],
                                          "doc_id long, doc string"),
                    "doc", violations_col=None)
                .select("doc_id", "valid").collect())
        verdict = {r.doc_id: r.valid for r in rows}
        problems += [f"doc {i}: planted {planted}, spark valid={verdict.get(i)}"
                     for i, _, planted in inp.sample
                     if verdict.get(i) is not (planted is None)]
        return problems

    def interpreter_sample(self, inp):
        depths = inp.expected["depths"]
        return [d for i, d, planted in inp.sample if planted or depths[i] > 3]


class PreprocessPipeline(Workload):
    """preprocess_corpus over the page corpus: FLAGSHIP_SCHEMA validation,
    boilerplate strip, PII redaction, exact dedup, Gopher gate, packing,
    written to parquet. The facade builds its own validator from the
    config; set-up constructs the same one, so ``setup_s`` counts the
    schema and column-plan compile."""

    name = "preprocess_pipeline"
    schema = FLAGSHIP_SCHEMA
    n_docs = 2_000
    config = PipelineConfig(
        validate_schema=FLAGSHIP_SCHEMA, doc_col="doc",
        boilerplate_min_docs=8, boilerplate_frac=0.8, dedup="exact",
        gopher_kwargs={"min_words": 5, "min_stop_hits": 0,
                       "max_dup_line_frac": 1.0,
                       "max_top_bigram_char_frac": 1.0},
        pack_budget=PACK_BUDGET)

    def __init__(self):
        self.pack_count = {}  # input path -> pack count of its first rep

    def generate(self, seed, n_docs, path):
        self.out_root = os.path.join(os.path.dirname(path), "pipeline_out")
        return gen.generate_pages(seed, n_docs, path)

    def build(self, spark, v, path, rep_id):
        out_path = os.path.join(self.out_root, rep_id)
        df = spark.read.parquet(path).select("doc_id", "host", "url", "text", "doc")
        out = preprocess_corpus(df, self.config)

        def write():
            out.write.mode("overwrite").parquet(out_path)
            return out_path
        return write

    def check(self, spark, out_path, inp):
        rows = spark.read.parquet(out_path).select("doc_id", "pack_id", "n_tok").collect()
        shutil.rmtree(out_path, ignore_errors=True)
        problems = []
        ids = [r.doc_id for r in rows]
        want = inp.expected["survivors"]
        if len(ids) != len(want) or set(ids) != want:
            problems.append(f"{len(ids)} rows, expected {len(want)}; "
                            f"{len(set(ids) - want)} unexpected, "
                            f"{len(want - set(ids))} missing")
        leaked = inp.invalid_ids & set(ids)
        if leaked:
            problems.append(f"{len(leaked)} planted-invalid rows in output")
        packs = defaultdict(list)
        for r in rows:
            packs[r.pack_id].append(r.n_tok)
        for pid, toks in packs.items():
            if len(toks) > 1 and sum(toks) > PACK_BUDGET:
                problems.append(f"pack {pid} holds {sum(toks)} > {PACK_BUDGET} tokens")
                break
        recorded = self.pack_count.setdefault(inp.path, len(packs))
        if len(packs) != recorded:
            problems.append(f"pack count {len(packs)} != {recorded} "
                            "recorded for this input")
        return problems


WORKLOADS = {w.name: w for w in (NestedViolations, PreprocessPipeline)}


# -- per-layer probes (traced runs only) --------------------------------------

def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def compile_column_plan(compiled):
    """SparkValidator's column-plan compile: depth-3 unroll, retried at
    depth 1 when the unrolled plan exceeds the node cap."""
    for depth in (3, 1):
        try:
            return ColumnPlanCompiler(compiled, max_ref_depth=depth).compile()
        except UnsupportedSchema as e:
            if "exceeds" not in str(e):
                raise
    raise UnsupportedSchema("no column plan at depth 1")


def expr_nodes(spark, v: SparkValidator) -> int:
    """Catalyst expression nodes in the analyzed valid-bit expression."""
    df = spark.range(1).select(F.try_parse_json(F.lit("{}")).alias("v"))
    plan = df.select(v.column_plan(F.col("v")).alias("ok"))._jdf \
             .queryExecution().analyzed()
    root = plan.expressions().head()
    count, stack = 0, [root]
    while stack:
        node = stack.pop()
        count += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return count - 1  # the Alias wrapper is not part of the plan


def layer_probes(spark, w: Workload, v: SparkValidator, inp: gen.Inputs,
                 tracer, reps: int = 2) -> dict:
    """Per-layer numbers measured from outside each layer."""
    out = {}
    with tracer.span("probe.compile"):
        out["compiler.compile_ms"] = 1e3 * _median_time(
            lambda: SchemaCompiler().compile(w.schema), 5)
        out["columns.compile_ms"] = 1e3 * _median_time(
            lambda: compile_column_plan(v.compiled), 5)
        out["columns.expr_nodes"] = expr_nodes(spark, v)
    docs = lambda: spark.read.parquet(inp.path).select("doc")  # noqa: E731
    with tracer.span("probe.scan"):
        out["engine.scan_s"] = _median_time(
            lambda: docs().agg(F.sum(F.length("doc"))).collect(), reps)
    with tracer.span("probe.parse"):
        out["engine.parse_s"] = _median_time(
            lambda: docs().agg(F.count(F.try_parse_json("doc"))).collect(), reps)

    def verdict(val):
        """(median driver-side build s, median action s) of a verdict job."""
        builds, actions = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            job = (val.validate_json(docs(), "doc", violations_col=None)
                   .agg(F.sum(F.col("valid").cast("long"))))
            t1 = time.perf_counter()
            job.collect()
            builds.append(t1 - t0)
            actions.append(time.perf_counter() - t1)
        return statistics.median(builds), statistics.median(actions)

    with tracer.span("probe.verdict"):
        build_s, action_s = verdict(v)
    # the Column DAG is rebuilt through py4j on every validate_json call:
    # driver-side work before any Spark job runs
    out["columns.build_ms"] = 1e3 * build_s
    out["engine.verdict_s"] = build_s + action_s
    out["engine.predicate_s"] = action_s - out["engine.parse_s"]
    no_format = gen.strip_formats(w.schema)
    if no_format == w.schema:
        out["format_columns.share_s"] = 0.0
    else:
        with tracer.span("probe.verdict_no_format"):
            out["format_columns.share_s"] = out["engine.verdict_s"] - sum(
                verdict(SparkValidator(no_format)))
    with tracer.span("probe.interpreter"):
        parsed = [parse_json(d) for d in w.interpreter_sample(inp)]
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 1.0:
            for doc in parsed:
                validate_document(v.compiled, doc)
            n += len(parsed)
        out["interpreter.docs_per_s"] = n / (time.perf_counter() - t0)
    return out

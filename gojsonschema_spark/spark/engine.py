"""SparkValidator — the engine facade.

Compile once on the driver, validate set-at-a-time over DataFrames:

* pass 1 (hot path): pure-SQL VARIANT predicate DAG -> ``valid`` bit,
  whole-stage codegen, no Python in the loop;
* pass 2 (lazy): violation rows elaborated by the Arrow-batched interpreter
  UDF only for failing documents;
* fallback: schemas outside the Column subset run entirely on the
  interpreter UDF (same verdicts, exact semantics).

A validator builds its pandas UDFs at construction and its Column DAG on
first use, then reuses both; ``_verdict`` composes the valid bit from them
for batch, per-kind and streaming validation alike. VARIANT input goes to
``validate_variant``.

Typical use::

    v = SparkValidator({"type": "object", "required": ["url"], ...}, draft="draft7")
    out = v.validate_json(df, "doc")          # adds valid + violations
    bad = out.filter(~out.valid).select("doc", F.explode("violations"))
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame, functions as F

from ..core.compiler import Draft, SchemaCompiler
from .columns import ColumnPlanCompiler, UnsupportedSchema
from .udf import make_verdict_udf, make_violations_udf

__all__ = ["SparkValidator", "MultiSchemaValidator"]


def _barrier(df: DataFrame, name: str, expr: Column) -> DataFrame:
    """Materialize ``expr`` as column ``name`` behind a Generate node so
    CollapseProject cannot re-inline it into every consumer."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def _explode_violations(bad: DataFrame, key_cols: list[str]) -> DataFrame:
    """One row per (document, violation): ``key_cols`` + violation fields."""
    return (bad.select(*key_cols, F.explode("violations").alias("v"))
               .select(*key_cols, "v.*"))


class SparkValidator:
    def __init__(self, schema, draft=Draft.HYBRID, auto_detect: bool = True,
                 validate_schema: bool = False, compiler: SchemaCompiler = None,
                 force_udf: bool = False):
        self.compiler = compiler or SchemaCompiler(
            draft=draft, auto_detect=auto_detect, validate_schema=validate_schema)
        self.compiled = self.compiler.compile(schema)
        # pandas UDFs are plain Python objects until first applied
        self._verdict_udf = make_verdict_udf(self.compiled, with_violations=False)
        self._verdict_violations_udf = make_verdict_udf(self.compiled)
        self._violations_udf = make_violations_udf(self.compiled)
        self.column_plan = None
        self.frontier_plan = None
        self.unsupported_reason = None
        if not force_udf:
            # depth-3 unroll first; ref-dense schemas (meta-schema style)
            # whose unrolled plan explodes past the node cap retry at
            # depth 1 — shallower SQL coverage, more rows to the frontier
            for depth in (3, 1):
                try:
                    cc = ColumnPlanCompiler(self.compiled, max_ref_depth=depth)
                    self.column_plan = cc.compile()
                    # non-None for depth-unrolled cyclic $refs: rows nesting
                    # past the unroll are re-verdicted by the interpreter
                    self.frontier_plan = cc.frontier_plan
                    self.unsupported_reason = None
                    break
                except UnsupportedSchema as e:
                    self.unsupported_reason = str(e)
                    if "exceeds" not in str(e):
                        break

    @property
    def uses_column_plan(self) -> bool:
        return self.column_plan is not None

    @cached_property
    def _valid_bit(self) -> Column:
        return self.column_plan(F.col("__gjs_v"))

    @cached_property
    def _deep_bit(self) -> Column:
        return self.frontier_plan(F.col("__gjs_v"))

    def _verdict(self, df: DataFrame, doc: Column, route: Column | None = None,
                 deep_col: str = "__gjs_deep") -> tuple[DataFrame, Column]:
        """(df, valid bit of ``doc``) over the parsed ``__gjs_v`` attribute:
        the SQL plan, with rows nesting past a hybrid plan's $ref unroll (or
        every row, without a plan) re-verdicted by the interpreter UDF, whose
        input is NULL outside ``route`` so Arrow ships only routed rows. The
        caller drops ``deep_col``, the barriered frontier detector."""
        if self.column_plan is None:
            return df, self._verdict_udf(
                doc if route is None else F.when(route, doc))["valid"]
        if self.frontier_plan is None:
            return df, self._valid_bit
        df = _barrier(df, deep_col, self._deep_bit if route is None
                      else route & self._deep_bit)
        deep = F.col(deep_col)
        return df, (F.when(deep, self._verdict_udf(F.when(deep, doc))["valid"])
                     .otherwise(self._valid_bit))

    # -- public API -----------------------------------------------------------

    def validate_json(self, df: DataFrame, doc_col: str,
                      valid_col: str = "valid",
                      violations_col: str | None = "violations") -> DataFrame:
        """Validate a JSON-string column; appends `valid` (+ `violations`)."""
        doc = F.col(doc_col)
        if self.column_plan is None and violations_col:
            # one interpreter pass yields both the bit and the violations
            df = df.withColumn("__verdict__", self._verdict_violations_udf(doc))
            return (df.withColumn(valid_col, F.col("__verdict__.valid"))
                      .withColumn(violations_col, F.col("__verdict__.violations"))
                      .drop("__verdict__"))
        if self.column_plan is not None:
            # explode(array(x)) is a Generate node: a deliberate projection
            # barrier so (a) the variant parse materializes once instead of
            # being re-inlined per keyword by CollapseProject, and (b) the
            # pass-2 UDF receives the `valid` ATTRIBUTE, not a re-evaluated
            # (interpreted, non-codegen) copy of the whole predicate.
            df = _barrier(df, "__gjs_v", F.try_parse_json(doc))
        df, bit = self._verdict(df, doc)
        df = df.withColumn(valid_col, bit).drop("__gjs_deep")
        if violations_col:
            df = _barrier(df, "__gjs_valid", F.col(valid_col))
            # mask the payload for valid rows: Arrow then ships nulls
            # instead of document bodies for the (majority) happy path
            masked = F.when(~F.col("__gjs_valid"), doc)
            df = df.withColumn(violations_col,
                               self._violations_udf(masked, F.col("__gjs_valid")))
            df = df.drop("__gjs_valid")
        return df.drop("__gjs_v")

    def validate_variant(self, df: DataFrame, variant_col: str,
                         valid_col: str = "valid") -> DataFrame:
        """Validate an existing VARIANT column on the pure-SQL path (raises
        where the exact verdict needs the interpreter: use validate_json)."""
        if self.column_plan is None:
            raise UnsupportedSchema(self.unsupported_reason or "no column plan")
        if self.frontier_plan is not None:
            raise UnsupportedSchema(
                "cyclic $ref unroll frontier: use validate_json (hybrid)")
        return (df.withColumn("__gjs_v", F.col(variant_col))
                  .withColumn(valid_col, self._valid_bit).drop("__gjs_v"))

    def violations_table(self, df: DataFrame, doc_col: str,
                         key_cols: list[str]) -> DataFrame:
        """Exploded violations table: one row per (document, violation).

        Pass 1 computes the pure-SQL valid bit; the Filter prunes valid
        rows BEFORE the interpreter UDF node, so Arrow ships and Python
        parses only the invalid subset — guaranteed by plan structure, not
        by hoping the filter pushes through the Python-eval node."""
        if self.column_plan is not None:
            out = self.validate_json(df, doc_col, violations_col=None)
            # barrier the bit BEFORE filtering: a bare filter(~valid) lets
            # PushPredicateThroughNonJoin substitute the whole predicate
            # into a FilterExec, which (unlike ProjectExec) performs NO
            # subexpression elimination — the variant->map conversion then
            # re-evaluates once per keyword reference (measured 3x the
            # pass-1 cost at 200k docs). Behind the Generate the predicate
            # stays in the CSE'd Project and the filter tests one boolean
            # attribute.
            out = _barrier(out, "__gjs_vbit", F.col("valid"))
            bad = (out.filter(~F.col("__gjs_vbit")).drop("__gjs_vbit")
                      .withColumn("violations",
                                  self._violations_udf(F.col(doc_col), F.lit(False))))
        else:
            bad = self.validate_json(df, doc_col).filter(~F.col("valid"))
        return _explode_violations(bad, key_cols)


class MultiSchemaValidator:
    """Per-row schema dispatch: each document validates against the schema
    selected by a key column (page kind, API version, tenant).

    A Common-Crawl-style corpus is heterogeneous — articles, products,
    events each carry their own contract. The reference can only do this
    row-at-a-time in host code (pick a *Schema, call Validate per doc);
    set-at-a-time the right shape is ONE shared variant parse behind a
    Generate barrier and a CASE WHEN chain of the per-kind column plans,
    so the whole dispatch stays inside whole-stage codegen. Kinds whose
    schema needs the interpreter (cyclic frontier, bignum, ...) fall back
    per-kind on a masked UDF input: Arrow ships only that kind's rows,
    never the corpus.

    ``on_unknown`` decides rows whose kind has no schema: "null" (not
    validated, the default), "valid", or "invalid".
    """

    def __init__(self, schemas: dict, on_unknown: str = "null", **kw):
        if on_unknown not in ("null", "valid", "invalid"):
            raise ValueError("on_unknown must be null|valid|invalid")
        self.validators = {k: SparkValidator(s, **kw) for k, s in schemas.items()}
        self.on_unknown = on_unknown

    def validate_json(self, df: DataFrame, doc_col: str, kind_col: str,
                      valid_col: str = "valid") -> DataFrame:
        doc, kind = F.col(doc_col), F.col(kind_col)
        df = _barrier(df, "__gjs_v", F.try_parse_json(doc))
        expr, deep_cols = None, []
        for i, (k, v) in enumerate(self.validators.items()):
            deep_cols.append(f"__gjs_deep{i}")
            df, branch = v._verdict(df, doc, route=kind == k,
                                    deep_col=deep_cols[-1])
            expr = (F.when(kind == F.lit(k), branch) if expr is None
                    else expr.when(kind == F.lit(k), branch))
        if expr is None:
            expr = F.lit(None).cast("boolean")
        if self.on_unknown != "null":
            expr = expr.otherwise(F.lit(self.on_unknown == "valid"))
        return df.withColumn(valid_col, expr).drop("__gjs_v", *deep_cols)

    def violations_table(self, df: DataFrame, doc_col: str, kind_col: str,
                         key_cols: list[str]) -> DataFrame:
        """Exploded violations for the dispatched corpus, in ONE scan:
        the dispatch valid bit prunes valid rows first (same barrier
        discipline as SparkValidator.violations_table), then a CASE
        chain of per-kind elaboration UDFs runs over the invalid tail
        with kind-masked payloads. A per-kind filter+union would rescan
        the corpus once per kind."""
        out = self.validate_json(df, doc_col, kind_col)
        out = _barrier(out, "__gjs_vbit", F.col("valid"))
        bad = (out.filter(F.col("__gjs_vbit").isNotNull()
                          & ~F.col("__gjs_vbit")).drop("__gjs_vbit"))
        doc, kind = F.col(doc_col), F.col(kind_col)
        expr = None
        for k, v in self.validators.items():
            branch = v._violations_udf(F.when(kind == k, doc), F.lit(False))
            expr = (F.when(kind == F.lit(k), branch) if expr is None
                    else expr.when(kind == F.lit(k), branch))
        unknown_row = F.array(F.struct(
            F.lit("(root)").alias("field"),
            F.lit("unknown_kind").alias("keyword"),
            F.concat(F.lit("No schema registered for kind '"),
                     F.coalesce(kind, F.lit("null")),
                     F.lit("'")).alias("message"),
            kind.alias("value"),
            F.create_map().cast("map<string,string>").alias("details")))
        expr = (unknown_row if expr is None else expr.otherwise(unknown_row))
        bad = bad.withColumn("violations", expr)
        return _explode_violations(bad.withColumn("kind", kind),
                                   [*key_cols, "kind"])

"""Arrow-batched pandas-UDF validation path (the general/fallback path).

Wraps the exact core interpreter in a vectorized pandas UDF over JSON
string columns. Used (a) for schemas the Column plan cannot express
(cyclic $refs, exact bignum arithmetic, uniqueItems on composites, RE2
dialect corners) and (b) as pass 2 of the two-pass design: elaborating
full violation rows only for documents the SQL pass flagged invalid
(SURVEY.md §4 'two-pass error elaboration').

The compiled SubSchema graph is pickled into the UDF closure once on the
driver and shipped to Python workers; all transfer is Arrow batches.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BooleanType, MapType, StringType,
                               StructField, StructType)

from ..core.compiler import CompiledSchema
from ..core.errors import render_value
from ..core.interpreter import validate_document
from ..core.jsonvalue import Num, _object_pairs_strict

__all__ = ["VIOLATION_SCHEMA", "VERDICT_SCHEMA", "make_verdict_udf", "make_violations_udf"]

VIOLATION_SCHEMA = ArrayType(StructType([
    StructField("field", StringType()),
    StructField("keyword", StringType()),
    StructField("message", StringType()),
    StructField("value", StringType()),
    StructField("details", MapType(StringType(), StringType())),
]))

VERDICT_SCHEMA = StructType([
    StructField("valid", BooleanType()),
    StructField("violations", VIOLATION_SCHEMA),
])

_PARSE_FAILED = [{
    "field": "(root)",
    "keyword": "invalid_document",
    "message": "Document is not valid JSON",
    "value": None,
    "details": {},
}]

# Controlled verdict for documents whose validation exceeds the Python
# recursion limit (instances nested thousands of levels deep). The Go
# reference would grow its goroutine stack and eventually panic the whole
# process; on a cluster a per-row verdict beats killing the job, so this
# is a documented deviation (README "Differences from gojsonschema").
# No-progress $ref cycles never reach this: the interpreter resolves them
# to the greatest fixed point (core/interpreter.py _REF_PATH).
_RECURSION_LIMIT = [{
    "field": "(root)",
    "keyword": "recursion_limit",
    "message": "Document nesting exceeds the validation recursion limit",
    "value": None,
    "details": {},
}]

_WORKER_RECURSION_LIMIT = 20000


def _raise_limit():
    import sys

    if sys.getrecursionlimit() < _WORKER_RECURSION_LIMIT:
        sys.setrecursionlimit(_WORKER_RECURSION_LIMIT)


# Spark's variant parser rejects documents nested deeper than 1000
# levels (measured: depth 1000 parses, 1001 returns NULL, arrays and
# objects alike) — the SQL hot path therefore verdicts such documents
# invalid_document. The interpreter path enforces the same bound so both
# paths give one verdict (README "Differences" item 4).
_VARIANT_MAX_DEPTH = 1000


def _depth_exceeds(obj, limit: int) -> bool:
    """True iff a CONTAINER sits at nesting depth > limit (scalars inside
    the limit-th container are fine — measured variant behavior)."""
    if not isinstance(obj, (dict, list)):
        return False
    stack = [(obj, 1)]
    while stack:
        node, d = stack.pop()
        if d > limit:
            return True
        children = node.values() if isinstance(node, dict) else node
        stack.extend((v, d + 1) for v in children
                     if isinstance(v, (dict, list)))
    return False


def _loads(doc: str):
    # duplicate object keys raise -> invalid_document, matching the SQL
    # path where the variant parser rejects them (core/jsonvalue
    # _object_pairs_strict, README "Differences" item 4)
    obj = json.loads(doc, parse_float=Num, parse_int=Num,
                     object_pairs_hook=_object_pairs_strict)
    if _depth_exceeds(obj, _VARIANT_MAX_DEPTH):
        raise ValueError("nesting exceeds variant depth limit")
    return obj


def _violation_rows(result) -> list[dict]:
    rows = []
    for e in result.errors:
        rows.append({
            "field": e.field_path,
            "keyword": e.error_type,
            "message": e.description(),
            "value": render_value(e.value),
            "details": {k: str(v) for k, v in e.details.items()},
        })
    return rows


def _check(compiled: CompiledSchema, doc: str, with_violations: bool):
    """(valid, violation rows) for one JSON string; unparseable and too-deep
    documents get their fixed rows even when ``with_violations`` is off."""
    if doc is None:
        return False, _PARSE_FAILED
    try:
        instance = _loads(doc)
    except (ValueError, RecursionError):
        return False, _PARSE_FAILED
    try:
        result = validate_document(compiled, instance)
    except RecursionError:
        return False, _RECURSION_LIMIT
    if result.valid():
        return True, []
    return False, _violation_rows(result) if with_violations else []


def make_verdict_udf(compiled: CompiledSchema, with_violations: bool = True):
    """pandas UDF: json string -> struct(valid, violations)."""

    @pandas_udf(VERDICT_SCHEMA)
    def verdict(docs: pd.Series) -> pd.DataFrame:
        _raise_limit()
        out_valid, out_viol = [], []
        for doc in docs:
            ok, viol = _check(compiled, doc, with_violations)
            out_valid.append(ok)
            out_viol.append(viol)
        return pd.DataFrame({"valid": out_valid, "violations": out_viol})

    # semantically deterministic, but marked otherwise so Catalyst never
    # DUPLICATES the eval: filters derived from downstream operators
    # (InferFiltersFromGenerate's size(violations)>0, predicate pushdown
    # through Project) would otherwise clone a second ArrowEvalPython
    # below the valid-bit filter and run Python over the whole corpus
    return verdict.asNondeterministic()


def make_violations_udf(compiled: CompiledSchema):
    """pandas UDF for pass 2: (json string, valid bit) -> violations.

    Documents already known valid skip parsing entirely, so the cost of
    this pass is proportional to the invalid subset.
    """

    @pandas_udf(VIOLATION_SCHEMA)
    def violations(docs: pd.Series, valid: pd.Series) -> pd.Series:
        _raise_limit()
        return pd.Series([[] if v else _check(compiled, d, True)[1]
                          for d, v in zip(docs, valid)])

    # see make_verdict_udf: prevents Catalyst from cloning the eval node
    return violations.asNondeterministic()

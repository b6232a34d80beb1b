"""Golden-corpus runner for the official JSON-Schema-Test-Suite fixtures.

Replicates the reference's test harness semantics
(/root/reference/jsonschema_test.go:121-190):

* draft fixed by directory name (draft4/draft6/draft7);
* groups with ``"disabled": true`` are skipped;
* the gate set = top-level fixture files + optional/format.json +
  optional/format/*.json (TestSuite's directory walk SkipDirs any
  subdirectory not named draft\\d+, so bignum/ecmascript-regex/content are
  NOT part of the reference's own gate — we track them separately);
* remote-ref fixtures are served from a pre-registered schema store under
  http://localhost:1234/ instead of a live HTTP server;
* schemas compile with meta-validation on (sl.Validate = true).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from .compiler import SchemaCompiler
from .jsonvalue import parse_json

__all__ = ["load_cases", "run_case_group", "iter_gate_files", "SuiteCase", "register_remotes"]

SUITE_ROOT = "/root/reference/testdata"
SUITE_ROOT = os.environ.get("GJS_SUITE_ROOT", SUITE_ROOT)
REMOTE_BASE = "http://localhost:1234/"

# optional files outside the reference's own gate that our engine also
# passes thanks to exact rational arithmetic
EXTRA_FILES = ("optional/bignum.json", "optional/zeroTerminatedFloats.json",
               "optional/ecmascript-regex.json", "optional/content.json")


# Cases where the official fixture disagrees with gojsonschema's semantics;
# these files are NOT in the reference's own gate (its walker skips
# optional/) — we pin REFERENCE behavior, not fixture text.
KNOWN_REFERENCE_DIVERGENCES = {
    # big.Rat.IsInt: 1.0 IS an integer (validation.go:121, utils.go:117-125)
    ("draft4", "optional/zeroTerminatedFloats.json",
     "some languages do not distinguish between different types of numeric value",
     "a float is not an integer even without fractional part"): True,
    # contentMediaType/contentEncoding are not implemented by the
    # reference: unknown keywords are ignored, every instance passes
    ("draft7", "optional/content.json",
     "validation of string-encoded content based on media type",
     "an invalid JSON document"): True,
    ("draft7", "optional/content.json",
     "validation of binary string-encoding",
     "an invalid base64 string (% is not a valid character)"): True,
    ("draft7", "optional/content.json",
     "validation of binary-encoded media type documents",
     "a validly-encoded invalid JSON document"): True,
    ("draft7", "optional/content.json",
     "validation of binary-encoded media type documents",
     "an invalid base64 string that is valid JSON"): True,
}


def reference_expected(draft: str, rel: str, case) -> bool:
    """Fixture verdict corrected to the reference's actual behavior."""
    return KNOWN_REFERENCE_DIVERGENCES.get(
        (draft, rel, case.group, case.case), case.expected_valid)


def require_suite(root: str = SUITE_ROOT) -> str:
    """``root``, or FileNotFoundError naming it and GJS_SUITE_ROOT when
    the fixture tree is absent."""
    if not os.path.isdir(root):
        raise FileNotFoundError(
            f"JSON-Schema-Test-Suite fixtures not found at {root}; "
            "set GJS_SUITE_ROOT to the suite's tests directory")
    return root


@dataclass
class SuiteCase:
    draft: str
    file: str
    group: str
    case: str
    schema: object          # parsed with lexical numbers
    data: object
    expected_valid: bool


def iter_gate_files(root: str = SUITE_ROOT, include_extra: bool = True):
    require_suite(root)
    for draft in ("draft4", "draft6", "draft7"):
        ddir = os.path.join(root, draft)
        for name in sorted(os.listdir(ddir)):
            if name.endswith(".json"):
                yield draft, name
        fmt = os.path.join(ddir, "optional", "format.json")
        if os.path.exists(fmt):
            yield draft, "optional/format.json"
        fdir = os.path.join(ddir, "optional", "format")
        if os.path.isdir(fdir):
            for name in sorted(os.listdir(fdir)):
                if name.endswith(".json"):
                    yield draft, f"optional/format/{name}"
        if include_extra:
            for rel in EXTRA_FILES:
                if os.path.exists(os.path.join(ddir, rel)):
                    yield draft, rel


def load_cases(root: str = SUITE_ROOT, include_extra: bool = True):
    """Yield (draft, file, group_schema, [SuiteCase...]) per non-disabled group."""
    for draft, rel in iter_gate_files(root, include_extra):
        path = os.path.join(root, draft, rel)
        with open(path, encoding="utf-8") as f:
            groups = parse_json(f.read())
        for group in groups:
            if group.get("disabled"):
                continue
            cases = [
                SuiteCase(draft, rel, group["description"], t["description"],
                          group["schema"], t["data"], t["valid"])
                for t in group["tests"]
            ]
            yield draft, rel, group["schema"], cases


def register_remotes(compiler: SchemaCompiler, root: str = SUITE_ROOT) -> None:
    """Pre-register testdata/remotes/** under http://localhost:1234/."""
    rdir = os.path.join(require_suite(root), "remotes")
    for dirpath, _, files in os.walk(rdir):
        for name in files:
            if not name.endswith(".json"):
                continue
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, rdir).replace(os.sep, "/")
            with open(full, encoding="utf-8") as f:
                doc = parse_json(f.read())
            url = REMOTE_BASE + rel
            compiler.store[url] = doc


def run_case_group(draft: str, schema, cases, validate_schema: bool = True):
    """Compile once, validate each case; returns list of (case, got_valid)."""
    compiler = SchemaCompiler(draft=draft, auto_detect=True,
                              validate_schema=validate_schema)
    register_remotes(compiler)
    compiled = compiler.compile(schema)
    return [(c, compiled.is_valid(c.data)) for c in cases]

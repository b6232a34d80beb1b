"""Seeded input generators for the benchmark workloads.

Every document and every label comes from ``random.Random(seed)``: the
same seed gives byte-identical inputs, and the planted-invalid labels
record the generator's own decisions, never a validator's verdict.
Inputs are written to parquet with pyarrow (no Spark), so generation
stays out of set-up and out of the timed reps.
"""

from __future__ import annotations

import copy
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# words of length 4..8 keep every document's mean word length inside the
# Gopher gate's [3, 10] band, so only the planted short docs fail it
_WORDS = ("data spark schema valid check table crawl token index shard "
          "merge batch stream query column vector join sort parse value "
          "field array object string number integer pattern format "
          "window filter reduce counter buffer record worker driver "
          "cluster storage memory network").split()
_TAGS = ("red green blue alpha beta gamma delta omega north south").split()

# planted defect -> the violation keyword the library reports for it
PAGE_DEFECTS = {
    "bad_url": "format",
    "bad_ts": "format",
    "bad_lang": "pattern",
    "empty_text": "string_gte",
    "neg_tokens": "number_gte",
    "extra_prop": "additional_property_not_allowed",
    "no_lang": "required",
    "str_tokens": "invalid_type",
}
# planted defect -> (library keyword, jsonschema validator name)
TREE_DEFECTS = {
    "value_low": ("number_gte", "minimum"),
    "value_high": ("number_lte", "maximum"),
    "value_str": ("invalid_type", "type"),
    "no_name": ("required", "required"),
    "empty_name": ("string_gte", "minLength"),
    "bad_tag": ("pattern", "pattern"),
    "extra_prop": ("additional_property_not_allowed", "additionalProperties"),
}

TREE_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "definitions": {
        "node": {
            "type": "object",
            "required": ["name", "value"],
            "properties": {
                "name": {"type": "string", "minLength": 1, "maxLength": 32},
                "value": {"type": "integer", "minimum": 0, "maximum": 1000},
                "tags": {"type": "array", "maxItems": 4,
                         "items": {"type": "string", "pattern": "^[a-z]+$"}},
                "children": {"type": "array", "maxItems": 4,
                             "items": {"$ref": "#/definitions/node"}},
            },
            "additionalProperties": False,
        },
    },
    "$ref": "#/definitions/node",
}

PAGE_INVALID_FRAC = 0.03
PAGE_DUP_FRAC = 0.03      # docs whose text copies an earlier doc of the host
PAGE_SHORT_FRAC = 0.02    # docs below the Gopher min_words gate
PAGE_PII_FRAC = 0.05      # docs carrying an email or phone number
DOCS_PER_HOST = 40
TREE_INVALID_FRAC = 0.15
# depth 4+ nests past the column plan's 3-level $ref unroll: a third of
# the docs go to the interpreter for their verdict
TREE_DEPTHS = (1, 1, 2, 2, 3, 3, 4, 5, 6)


@dataclass
class Inputs:
    path: str                  # parquet directory the reps read
    n_docs: int
    n_invalid: int
    invalid_ids: set = field(default_factory=set)
    # workload-specific expectations, all derived from generator decisions
    expected: dict = field(default_factory=dict)
    # fixed per-seed sample for per-document cross-checks:
    # (doc_id, doc, planted violation keyword or None for a valid doc)
    sample: list = field(default_factory=list)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


N_FILES = 16  # input files per dataset: the scan splits across 16 cores or fewer


def _write(path: str, columns: dict) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-len(table) // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:02d}.parquet"))


def _page_defect(doc: dict, kind: str) -> None:
    if kind == "bad_url":
        doc["url"] = "::not a uri " + doc["url"][-6:]
    elif kind == "bad_ts":
        doc["warc_ts"] = doc["warc_ts"].replace("T", " ")[:16]
    elif kind == "bad_lang":
        doc["lang"] = doc["lang"].upper()
    elif kind == "empty_text":
        doc["text"] = ""
    elif kind == "neg_tokens":
        doc["n_tokens"] = -doc["n_tokens"] - 1
    elif kind == "extra_prop":
        doc["tracking"] = 1
    elif kind == "no_lang":
        del doc["lang"]
    elif kind == "str_tokens":
        doc["n_tokens"] = str(doc["n_tokens"])


def generate_pages(seed: int, n_docs: int, path: str) -> Inputs:
    """Common-Crawl-style pages: per-host boilerplate lines, PII, exact
    duplicates within a host, short pages, and ~3% planted-invalid docs
    (one defect each, see ``PAGE_DEFECTS``).

    ``expected["survivors"]`` is the doc-id set the preprocessing facade
    must return with the benchmark's pipeline config: valid docs, minus
    every duplicate but the smallest id, minus the short pages."""
    rng = random.Random(seed)
    n_hosts = max(1, n_docs // DOCS_PER_HOST)
    langs = ("en", "en", "en", "de", "fr", "es")
    cols = {k: [] for k in ("doc_id", "host", "url", "text", "doc",
                            "label_valid")}
    defects: list = []
    bodies: list[str] = []
    dup_of: dict[int, int] = {}
    short: set[int] = set()
    kinds = sorted(PAGE_DEFECTS)
    for i in range(n_docs):
        h = i % n_hosts
        host = f"host{h}.example.com"
        r = rng.random()
        if r < PAGE_DUP_FRAC and i >= n_hosts:
            src = i - n_hosts * rng.randint(1, i // n_hosts)
            body = bodies[src]
            dup_of[i] = src
        elif r < PAGE_DUP_FRAC + PAGE_SHORT_FRAC:
            body = _words(rng, rng.randint(1, 3))
            short.add(i)
        else:
            lines = [_words(rng, rng.randint(6, 24))
                     for _ in range(rng.randint(2, 4))]
            if rng.random() < PAGE_PII_FRAC:
                pii = (f"mail user{rng.randint(1, 999)}@mail{h}.example.org"
                       if rng.random() < 0.5 else
                       f"call 555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}")
                lines[rng.randrange(len(lines))] += " " + pii
            body = "\n".join(lines)
        bodies.append(body)
        text = (f"menu home about contact site{h}\n{body}\n"
                f"copyright footer site{h} rights reserved")
        day = 1 + rng.randrange(28)
        doc = {"url": f"https://{host}/page/{i}",
               "warc_ts": f"2024-06-{day:02d}T{rng.randrange(24):02d}:"
                          f"{rng.randrange(60):02d}:00Z",
               "text": text, "lang": rng.choice(langs),
               "n_tokens": len(text.split())}
        defect = None
        if rng.random() < PAGE_INVALID_FRAC:
            defect = rng.choice(kinds)
            _page_defect(doc, defect)
        cols["doc_id"].append(i)
        cols["host"].append(host)
        cols["url"].append(doc["url"])
        cols["text"].append(doc["text"])
        cols["doc"].append(json.dumps(doc))
        cols["label_valid"].append(defect is None)
        defects.append(defect)
    _write(path, cols)

    invalid = {i for i, ok in enumerate(cols["label_valid"]) if not ok}
    # exact dedup keeps the smallest valid id of every identical-text group
    group_min: dict[int, int] = {}
    for i in range(n_docs):
        if i not in invalid:
            group_min.setdefault(_root(i, dup_of), i)
    survivors = {i for root, i in group_min.items() if root not in short}
    keywords = [PAGE_DEFECTS.get(d) for d in defects]
    return Inputs(
        path=path, n_docs=n_docs, n_invalid=len(invalid), invalid_ids=invalid,
        expected={"survivors": survivors},
        sample=[(i, cols["doc"][i], keywords[i])
                for i in _sample_ids(rng, n_docs, invalid)])


def _root(i: int, dup_of: dict) -> int:
    while i in dup_of:
        i = dup_of[i]
    return i


def _sample_ids(rng: random.Random, n_docs: int, invalid: set) -> list[int]:
    """200 random docs plus the first 100 planted-invalid ones."""
    return sorted(set(rng.sample(range(n_docs), min(n_docs, 200)))
                  | set(sorted(invalid)[:100]))


def _tree(rng: random.Random, depth: int) -> dict:
    """A node whose deepest descendant sits ``depth`` levels down; one
    spine child carries the depth, the siblings are leaves."""
    node = {"name": rng.choice(_WORDS), "value": rng.randint(0, 1000)}
    if rng.random() < 0.5:
        node["tags"] = rng.sample(_TAGS, rng.randint(1, 3))
    if depth > 1:
        kids = [_tree(rng, depth - 1)]
        for _ in range(rng.randint(0, 2)):
            kids.insert(rng.randint(0, len(kids)), _tree(rng, 1))
        node["children"] = kids
    return node


def _nodes(node: dict, out: list) -> list:
    out.append(node)
    for kid in node.get("children", ()):
        _nodes(kid, out)
    return out


def _tree_defect(rng: random.Random, node: dict, kind: str) -> None:
    if kind == "value_low":
        node["value"] = -rng.randint(1, 50)
    elif kind == "value_high":
        node["value"] = 1001 + rng.randint(0, 5000)
    elif kind == "value_str":
        node["value"] = str(node["value"])
    elif kind == "no_name":
        del node["name"]
    elif kind == "empty_name":
        node["name"] = ""
    elif kind == "bad_tag":
        node["tags"] = node.get("tags", [])[:3] + ["Bad Tag"]
    elif kind == "extra_prop":
        node["color"] = rng.choice(_TAGS)


def generate_trees(seed: int, n_docs: int, path: str) -> Inputs:
    """Tree documents for the recursive ``TREE_SCHEMA``: depths drawn from
    ``TREE_DEPTHS``; ~15% carry exactly one planted violation at a
    uniformly chosen node (so deep nodes are hit too).

    ``expected["by_keyword"]`` maps each library keyword to
    ``(violation count, sum of doc ids)`` of the planted violations."""
    rng = random.Random(seed)
    kinds = sorted(TREE_DEFECTS)
    ids, docs, labels, defects, depths = [], [], [], [], []
    by_keyword: dict[str, list] = {}
    for i in range(n_docs):
        depth = rng.choice(TREE_DEPTHS)
        tree = _tree(rng, depth)
        defect = None
        if rng.random() < TREE_INVALID_FRAC:
            defect = rng.choice(kinds)
            _tree_defect(rng, rng.choice(_nodes(tree, [])), defect)
            kw = TREE_DEFECTS[defect][0]
            acc = by_keyword.setdefault(kw, [0, 0])
            acc[0] += 1
            acc[1] += i
        ids.append(i)
        docs.append(json.dumps(tree, separators=(",", ":")))
        labels.append(defect is None)
        defects.append(defect)
        depths.append(depth)
    _write(path, {"doc_id": ids, "doc": docs})
    invalid = {i for i in ids if not labels[i]}
    return Inputs(
        path=path, n_docs=n_docs, n_invalid=len(invalid), invalid_ids=invalid,
        expected={"by_keyword": {k: tuple(v) for k, v in by_keyword.items()},
                  "depths": depths},
        sample=[(i, docs[i], TREE_DEFECTS[defects[i]][0] if defects[i] else None)
                for i in _sample_ids(rng, n_docs, invalid)])


def strip_formats(schema):
    """``schema`` with every ``format`` keyword removed (deep copy)."""
    schema = copy.deepcopy(schema)
    stack = [schema]
    while stack:
        node = stack.pop()
        if isinstance(node, dict):
            if isinstance(node.get("format"), str):
                del node["format"]
            stack.extend(node.values())
        elif isinstance(node, list):
            stack.extend(node)
    return schema

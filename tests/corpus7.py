"""Corpus expansion (round 6): multi-resource bundles and dynamic
references — the schema shapes the r6 static scope-chain simulation
lowers columnar (inline.py).  Same group shape as tests/corpus.py:
    (draft, description, schema, [(data, expected_valid), ...])

Every expected verdict comes from a tiny spec-derived Python model
written HERE (recursive tree walkers over plain dicts), never from the
engine under test.  Reference semantics: $id/$anchor registry
json_schema.cljc:58-100; $recursiveRef property.cljc:131-168,302-384;
$dynamicRef property.cljc:170-197,387-512 (2020 bookended, draft-next
unbookended).

Families:
1. embedded bundles — cross-resource $ref, relative $id, per-resource
   anchor namespaces, pointers into nested resources;
2. tree / strict-tree — the SAME dynamic ref resolving differently per
   entry resource, on both the 2020-12 $dynamicAnchor and the 2019-09
   $recursiveAnchor forms;
3. lexical fallbacks — unbookended $dynamicRef (plain-$ref semantics),
   draft-next plain-$anchor fallback, $recursiveRef without anchors,
   pointer-fragment $dynamicRef;
4. inactive-draft no-ops — $recursiveRef under 2020-12, $dynamicRef
   under 2019-09 (ignored by the keyword tables);
5. warning-only branches — a branch whose only reports are warnings or
   infos ($comment, deprecated, an unknown format, 2019+ content)
   passes every applicator that asks whether it passed.
"""

from __future__ import annotations

D19 = "draft2019-09"
D20 = "draft2020-12"
DN = "draft-next"

CASES7 = []


# ---------------------------------------------------------------------------
# models: spec-derived tree walkers (plain dict/list recursion)

def _is_int(v):
    return isinstance(v, int) and not isinstance(v, bool)


def _tree_ok(doc, strict):
    """tree: object with optional integer `data` and list `children` of
    trees; strict additionally forbids unevaluated (= any other) keys
    at EVERY level, because the child ref dynamically re-binds to the
    strict root."""
    if not isinstance(doc, dict):
        return False
    if strict and any(k not in ("data", "children") for k in doc):
        return False
    if "data" in doc and not _is_int(doc["data"]):
        return False
    if "children" in doc:
        ch = doc["children"]
        if not isinstance(ch, list):
            return False
        return all(_tree_ok(c, strict) for c in ch)
    return True


_TREE_DOCS = [
    {"data": 1},
    {"data": 1, "children": []},
    {"data": 1, "children": [{"data": 2}, {"data": 3}]},
    {"data": 1, "children": [{"data": 2, "children": [{"data": 4}]}]},
    {"data": "x"},
    {"data": 1, "children": [{"data": "x"}]},
    {"data": 1, "children": {"not": "a list"}},
    {"data": 1, "extra": 9},
    {"data": 1, "children": [{"data": 2, "extra": 9}]},
    {"data": 1, "children": [{"data": 2,
                              "children": [{"data": 4, "extra": 9}]}]},
    "not an object",
    7,
]


def _bundle_tree(draft, strict_extra, tree_extra, leaf_ref):
    return {
        "$defs": {
            "strict": {"$id": "https://c7.test/strict-tree",
                       "$ref": "https://c7.test/tree",
                       "unevaluatedProperties": False, **strict_extra},
            "tree": {"$id": "https://c7.test/tree",
                     "type": "object",
                     "properties": {
                         "data": {"type": "integer"},
                         "children": {"type": "array",
                                      "items": leaf_ref}},
                     **tree_extra},
        },
        "properties": {"t": {"$ref": "https://c7.test/strict-tree"},
                       "u": {"$ref": "https://c7.test/tree"}},
    }


# 2020-12 $dynamicRef strict-tree: child refs re-bind to the outermost
# $dynamicAnchor resource in scope
_dyn_bundle = _bundle_tree(
    D20, {"$dynamicAnchor": "node"}, {"$dynamicAnchor": "node"},
    {"$dynamicRef": "#node"})
CASES7.append((
    D20, "strict-tree bundle via $dynamicRef: strict entry",
    _dyn_bundle,
    [({"t": d}, _tree_ok(d, strict=True)) for d in _TREE_DOCS]))
CASES7.append((
    D20, "strict-tree bundle via $dynamicRef: tree entry",
    _dyn_bundle,
    [({"u": d}, _tree_ok(d, strict=False)) for d in _TREE_DOCS]))

# 2019-09 $recursiveRef strict-tree: same shape, boolean anchors
_rec_bundle = _bundle_tree(
    D19, {"$recursiveAnchor": True}, {"$recursiveAnchor": True},
    {"$recursiveRef": "#"})
CASES7.append((
    D19, "strict-tree bundle via $recursiveRef: strict entry",
    _rec_bundle,
    [({"t": d}, _tree_ok(d, strict=True)) for d in _TREE_DOCS]))
CASES7.append((
    D19, "strict-tree bundle via $recursiveRef: tree entry",
    _rec_bundle,
    [({"u": d}, _tree_ok(d, strict=False)) for d in _TREE_DOCS]))

# WITHOUT the bookend/anchor on tree, the child ref stays lexical: the
# strict entry still forbids extras at the TOP level only (the child
# items ref goes straight back to plain tree)
_unanchored = _bundle_tree(
    D19, {"$recursiveAnchor": True}, {}, {"$recursiveRef": "#"})
CASES7.append((
    D19, "strict-tree, tree NOT $recursiveAnchor'd: children lexical",
    _unanchored,
    [({"t": {"data": 1, "extra": 9}}, False),          # top-level strict
     ({"t": {"data": 1, "children": [{"data": 2, "extra": 9}]}}, True),
     ({"t": {"data": 1, "children": [{"data": "x"}]}}, False),
     ({"u": {"data": 1, "extra": 9}}, True),
     ({"t": {"data": 1, "children": [{"data": 2}]}}, True)]))

# 2020-12 without the bookend on tree: $dynamicRef "#node" has no
# $dynamicAnchor in the TARGET resource -> plain-$ref semantics to the
# plain $anchor
CASES7.append((
    D20, "unbookended $dynamicRef falls back to plain $ref",
    {"$defs": {"x": {"$anchor": "leaf", "type": "string",
                     "minLength": 2}},
     "properties": {"a": {"$dynamicRef": "#leaf"}}},
    [({"a": "ab"}, True), ({"a": "a"}, False), ({"a": 5}, False),
     ({}, True), ({"a": "abc"}, True)]))

# draft-next: no bookend required; falls back to the plain $anchor
CASES7.append((
    DN, "draft-next $dynamicRef plain-$anchor fallback",
    {"$defs": {"x": {"$anchor": "leaf", "type": "string",
                     "minLength": 2}},
     "properties": {"a": {"$dynamicRef": "#leaf"}}},
    [({"a": "ab"}, True), ({"a": "a"}, False), ({"a": 5}, False),
     ({}, True)]))

# pointer-fragment $dynamicRef is a plain reference in every draft
CASES7.append((
    D20, "pointer-fragment $dynamicRef is plain",
    {"$defs": {"pos": {"type": "integer", "minimum": 1}},
     "properties": {"a": {"$dynamicRef": "#/$defs/pos"}}},
    [({"a": 2}, True), ({"a": 0}, False), ({"a": "2"}, False),
     ({}, True)]))

# a $dynamicAnchor also answers PLAIN $ref lookups
CASES7.append((
    D20, "$dynamicAnchor answers plain $ref",
    {"$defs": {"x": {"$dynamicAnchor": "it", "type": "integer",
                     "maximum": 9}},
     "properties": {"a": {"$ref": "#it"}}},
    [({"a": 5}, True), ({"a": 10}, False), ({"a": "5"}, False),
     ({}, True)]))

# inactive drafts ignore the keyword entirely
CASES7.append((
    D20, "$recursiveRef inactive under 2020-12 (ignored)",
    {"properties": {"a": {"$recursiveRef": "#", "type": "integer",
                          "minimum": 1}}},
    [({"a": 2}, True), ({"a": 0}, False), ({"a": "x"}, False),
     ({}, True)]))
CASES7.append((
    D19, "$dynamicRef inactive under 2019-09 (ignored)",
    {"properties": {"a": {"$dynamicRef": "#nowhere", "type": "integer",
                          "minimum": 1}}},
    [({"a": 2}, True), ({"a": 0}, False), ({}, True)]))

# ---------------------------------------------------------------------------
# embedded bundles: URI mechanics

CASES7.append((
    D20, "bundle: cross-resource ref, inner refs against inner base",
    {"$defs": {"addr": {"$id": "https://c7.test/addr", "type": "object",
                        "properties": {"zip": {"$ref": "#/$defs/zip"}},
                        "$defs": {"zip": {"type": "string",
                                          "minLength": 3}}}},
     "properties": {"a": {"$ref": "https://c7.test/addr"}}},
    [({"a": {"zip": "123"}}, True), ({"a": {"zip": "12"}}, False),
     ({"a": {"zip": 123}}, False), ({"a": {}}, True),
     ({"a": "zip"}, False), ({}, True)]))

CASES7.append((
    D20, "bundle: relative $id resolves against root $id",
    {"$id": "https://c7.test/root.json",
     "$defs": {"item": {"$id": "sub/item.json", "type": "integer",
                        "minimum": 1}},
     "properties": {"a": {"$ref": "sub/item.json"},
                    "b": {"$ref": "https://c7.test/sub/item.json"}}},
    [({"a": 2, "b": 2}, True), ({"a": 0}, False), ({"b": 0}, False),
     ({"a": 1.5}, False), ({}, True)]))

CASES7.append((
    D20, "bundle: same anchor name, different resources",
    {"$defs": {
        "r1": {"$id": "https://c7.test/r1",
               "$defs": {"x": {"$anchor": "it", "type": "string",
                               "minLength": 2}}},
        "r2": {"$id": "https://c7.test/r2",
               "$defs": {"x": {"$anchor": "it", "type": "integer",
                               "minimum": 5}}}},
     "properties": {"s": {"$ref": "https://c7.test/r1#it"},
                    "n": {"$ref": "https://c7.test/r2#it"}}},
    [({"s": "ab", "n": 7}, True), ({"s": "a"}, False),
     ({"n": 1}, False), ({"s": 7}, False), ({"n": "7"}, False),
     ({}, True)]))

CASES7.append((
    D20, "bundle: pointer into nested resource root",
    {"$defs": {"lib": {"$id": "https://c7.test/lib",
                       "$defs": {"nm": {"type": "string",
                                        "maxLength": 3}}}},
     "properties": {"a": {"$ref": "https://c7.test/lib#/$defs/nm"}}},
    [({"a": "abc"}, True), ({"a": "abcd"}, False), ({"a": 1}, False),
     ({}, True)]))

CASES7.append((
    D20, "bundle: mutual recursion across two resources",
    {"$defs": {
        "a": {"$id": "https://c7.test/ra", "type": "object",
              "properties": {"b": {"$ref": "https://c7.test/rb"},
                             "va": {"type": "integer", "minimum": 0}}},
        "b": {"$id": "https://c7.test/rb", "type": "object",
              "properties": {"a": {"$ref": "https://c7.test/ra"},
                             "vb": {"type": "integer",
                                    "maximum": 10}}}},
     "properties": {"root": {"$ref": "https://c7.test/ra"}}},
    [({"root": {"va": 1, "b": {"vb": 2, "a": {"va": 3}}}}, True),
     ({"root": {"va": -1}}, False),
     ({"root": {"b": {"vb": 20}}}, False),
     ({"root": {"b": {"a": {"va": -3}}}}, False),
     ({"root": {"b": {"a": {"b": {"vb": 0}}}}}, True),
     ({"root": []}, False), ({}, True)]))

# $recursiveRef "#" WITHOUT any $recursiveAnchor: purely lexical — the
# resource root itself (single resource here)
CASES7.append((
    D19, "$recursiveRef lexical (no anchors anywhere)",
    {"type": "object",
     "properties": {"next": {"$recursiveRef": "#"},
                    "v": {"type": "integer", "maximum": 10}}},
    [({"v": 5}, True), ({"v": 11}, False),
     ({"v": 5, "next": {"v": 6}}, True),
     ({"v": 5, "next": {"v": 11}}, False),
     ({"v": 5, "next": {"v": 6, "next": {"v": 12}}}, False),
     ({"v": 5, "next": "x"}, False), ({}, True)]))


# ---------------------------------------------------------------------------
# family 5: annotations never fail a branch (verdicts from the spec: an
# annotation keyword asserts nothing)

_JSON_STR = {"contentMediaType": "application/json",
             "contentSchema": {"type": "string"}}

for _desc, _schema, _tests in [
        ("anyOf: $comment-only branch",
         {"anyOf": [{"$comment": "x"}]}, [(1, True), ("a", True)]),
        ("oneOf: deprecated-only branch",
         {"oneOf": [{"deprecated": True}, {"type": "string"}]},
         [(1, True), ("a", False)]),
        ("contains: $comment-only subschema",
         {"contains": {"$comment": "x"}}, [([1], True), ([], False)]),
        ("if: deprecated-only condition takes then",
         {"if": {"deprecated": True}, "then": {"type": "string"}},
         [(1, False), ("a", True)]),
        ("anyOf: unknown-format branch",
         {"anyOf": [{"format": "nope"}]}, [("a", True)]),
        ("not: $comment-only subschema",
         {"not": {"$comment": "x"}}, [(1, False), ("a", False)]),
        ("anyOf: content annotations only",
         {"anyOf": [_JSON_STR]}, [("1", True), ("x", True)]),
        ("items: content annotations only",
         {"items": _JSON_STR}, [(["1"], True), (["x", '"s"'], True)]),
]:
    CASES7.append((D20, f"warning-only branch: {_desc}", _schema, _tests))

"""Registry/remote refs, $schema mid-tree switching, degenerate cycles,
custom formats, and a hypothesis fuzz over random JSON values."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from m3spark.schema import SchemaError, compile_schema, validate


def test_registry_remote_ref():
    """User-supplied {uri: schema} registry, the reference's registry
    option (m3: json_schema.cljc:58-100)."""
    registry = {
        "https://remote.example/defs.json": {
            "$defs": {"port": {"type": "integer",
                               "minimum": 1, "maximum": 65535}}},
    }
    cs = compile_schema(
        {"properties": {"p": {
            "$ref": "https://remote.example/defs.json#/$defs/port"}}},
        registry=registry)
    assert cs.is_valid({"p": 8080})
    assert not cs.is_valid({"p": 0})
    assert not cs.is_valid({"p": "http"})


def test_registry_ref_chain_across_resources():
    registry = {
        "https://a.example/s": {"$ref": "https://b.example/s"},
        "https://b.example/s": {"type": "string"},
    }
    cs = compile_schema({"$ref": "https://a.example/s"}, registry=registry)
    assert cs.is_valid("x") and not cs.is_valid(1)


def test_unresolvable_ref_raises():
    with pytest.raises(SchemaError, match="unresolvable"):
        compile_schema({"$ref": "https://nowhere.example/missing"})


def test_schema_switch_mid_tree():
    """$schema switches draft+dialect mid-tree (m3:
    vocabulary.cljc:107-129): draft4 strict integer inside a 2020-12
    root with loose integer."""
    cs = compile_schema({
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "properties": {
            "loose": {"type": "integer"},
            "strict": {
                "$schema": "http://json-schema.org/draft-04/schema#",
                "type": "integer"},
        }})
    assert cs.is_valid({"loose": 2.0})
    assert not cs.is_valid({"strict": 2.0})
    assert cs.is_valid({"strict": 2})


_CYCLE = ("$ref", "", "", "$ref cycle exceeded recursion limit",
          "error", None)


def _fields(r):
    return [(e.keyword, e.schema_path, e.doc_path, e.message, e.level,
             e.value) for e in r.errors + r.warnings + r.infos]


def test_degenerate_ref_cycle_fails_cleanly():
    """A cycle with no structural descent fails the document with one
    clean violation, also under the branches whose own violations are
    thrown away, and the host's recursion limit is left as it was."""
    import sys
    limit = sys.getrecursionlimit()
    for schema in ({"$ref": "#"}, {"anyOf": [{"$ref": "#"}]},
                   {"not": {"$ref": "#"}}):
        r = compile_schema(schema).validate(1)
        assert not r.valid
        assert _fields(r) == [_CYCLE]
        assert sys.getrecursionlimit() == limit


def test_custom_format_registry():
    """Custom format checkers, the reference's :check-format option
    (m3: json_schema.cljc:119,145)."""
    cs = compile_schema({"format": "even-length"},
                        formats={"even-length": lambda s: len(s) % 2 == 0},
                        format_assertion=True)
    assert cs.is_valid("ab") and not cs.is_valid("abc")


def test_structural_recursion_depth():
    """Recursive schemas descend as deep as the document (no unroll
    limit in the interpreter), up to the depth guard.  It counts schema
    applications, two per level here (the root and its ``$ref``), so a
    1,249-deep chain is valid and a 1,250-deep one fails cleanly; the
    recursion limit is restored."""
    import sys
    cs = compile_schema({"$id": "https://x/n", "type": ["object", "null"],
                         "properties": {"next": {"$ref": "#"}}})

    def chain(n):
        doc = None
        for _ in range(n):
            doc = {"next": doc}
        return doc

    assert cs.is_valid(chain(200))
    deep_bad = {"next": {"next": {"next": 5}}}
    assert not cs.is_valid(deep_bad)
    limit = sys.getrecursionlimit()
    assert cs.validate(chain(1249)).valid
    r = cs.validate(chain(1250))
    assert not r.valid and _fields(r) == [_CYCLE]
    assert sys.getrecursionlimit() == limit


def test_dynamic_ref_without_anchor():
    """A draft-next ``$dynamicRef`` whose anchor no scope declares
    fails where it is reported, and counts as a failing branch where
    its caller throws the violation away."""
    nxt = "https://json-schema.org/draft/next/schema"
    r = compile_schema({"$schema": nxt, "$dynamicRef": "#nope"}).validate(1)
    assert _fields(r) == [("$dynamicRef", "/$dynamicRef", "",
                           "$dynamicRef: no anchor 'nope' in dynamic scope",
                           "error", "1")]
    assert compile_schema({"$schema": nxt, "not": {"$dynamicRef": "#nope"}}
                          ).validate(1).valid
    assert not compile_schema({"$schema": nxt, "anyOf": [
        {"$dynamicRef": "#nope"}, {"type": "string"}]}).validate(1).valid


# ---- fuzz: no input may crash the validator ----

json_values = st.recursive(
    st.none() | st.booleans() | st.integers(-10**18, 10**18)
    | st.floats(allow_nan=False, allow_infinity=False) | st.text(max_size=20),
    lambda children: st.lists(children, max_size=5)
    | st.dictionaries(st.text(max_size=8), children, max_size=5),
    max_leaves=25)

FUZZ_SCHEMAS = [
    {"type": "object", "required": ["a"],
     "properties": {"a": {"type": "integer", "minimum": 0}},
     "additionalProperties": {"maxLength": 3}},
    {"anyOf": [{"type": "string", "pattern": "a+"},
               {"type": "array", "items": {"enum": [1, 2, None]},
                "uniqueItems": True}]},
    {"if": {"type": "number"}, "then": {"multipleOf": 0.5},
     "else": {"minProperties": 1}},
    {"$defs": {"n": {"type": ["integer", "object"],
                     "properties": {"k": {"$ref": "#/$defs/n"}},
                     "unevaluatedProperties": False}},
     "$ref": "#/$defs/n"},
    {"contains": {"const": 3}, "minContains": 0, "maxContains": 2,
     "format": "date-time"},
]

_COMPILED = [compile_schema(s, format_assertion=True) for s in FUZZ_SCHEMAS]


@settings(max_examples=300, deadline=None)
@given(value=json_values, idx=st.integers(0, len(FUZZ_SCHEMAS) - 1))
def test_fuzz_never_crashes(value, idx):
    r = _COMPILED[idx].validate(value)
    assert isinstance(r.valid, bool)
    # verdict must be deterministic
    assert _COMPILED[idx].is_valid(value) == r.valid


@settings(max_examples=150, deadline=None)
@given(value=json_values)
def test_fuzz_json_roundtrip_stable(value):
    """Verdict identical after a JSON round-trip (what the Spark
    interpreter path sees)."""
    cs = _COMPILED[0]
    rt = json.loads(json.dumps(value))
    assert cs.is_valid(value) == cs.is_valid(rt)


# ---- full-output pin: every violation field, order included ----

PIN_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$comment": "pinned",
    "$defs": {
        "tag": {"type": "string", "pattern": "^[a-z][a-z0-9-]{1,15}$"},
        "person": {
            "type": "object",
            "required": ["name"],
            "properties": {
                "name": {"type": "string", "minLength": 1},
                "email": {"type": "string", "format": "email"},
            },
            "patternProperties": {"^x-": {"type": "string"}},
            "unevaluatedProperties": False,
        },
        "link": {
            "oneOf": [
                {"type": "object", "required": ["kind", "url"],
                 "properties": {"kind": {"const": "web"},
                                "url": {"type": "string",
                                        "format": "uri"}}},
                {"type": "object", "required": ["kind", "doi"],
                 "properties": {"kind": {"const": "doi"},
                                "doi": {"type": "string",
                                        "pattern": "^10\\.[0-9]{4,9}/"}}},
            ],
        },
    },
    "type": "object",
    "required": ["id", "owner", "tags", "links"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "owner": {"$ref": "#/$defs/person"},
        "tags": {"type": "array", "items": {"$ref": "#/$defs/tag"},
                 "uniqueItems": True, "maxItems": 6},
        "links": {"type": "array", "prefixItems": [{"type": "object"}],
                  "items": {"$ref": "#/$defs/link"}},
        "when": {"type": "string", "format": "date-time"},
        "ip": {"format": "ipv4", "deprecated": True},
        "meta": {"type": "object",
                 "additionalProperties": {"type": ["string", "number",
                                                   "null"]}},
        "blob": {"contentMediaType": "application/json",
                 "contentSchema": {"type": "object", "required": ["k"]}},
        "score": {"type": "number", "multipleOf": 0.5, "maximum": 100},
    },
    "allOf": [{
        "if": {"required": ["kind"],
               "properties": {"kind": {"const": "ext"}}},
        "then": {"required": ["ext"]},
        "else": {"not": {"required": ["ext"]}},
    }],
    "dependentSchemas": {
        "ext": {"properties": {"ext": {"type": "object",
                                       "minProperties": 1}}}},
    "unevaluatedProperties": False,
}


def _pin_doc(rng, k):
    """One seeded document for PIN_SCHEMA; about half carry one or two
    planted anomalies."""
    tags = [f"t{rng.randrange(50)}-{j}" for j in range(rng.randrange(5))]
    links = [{"kind": "web", "url": f"https://s{k}.example.org/{j}"}
             if rng.random() < 0.5 else
             {"kind": "doi", "doi": f"10.{1000 + rng.randrange(9000)}/x{j}"}
             for j in range(1 + rng.randrange(3))]
    doc = {"id": k, "owner": {"name": f"user {k}",
                              "email": f"u{k}@example.com"},
           "tags": tags, "links": links}
    if rng.random() < 0.4:
        doc["when"] = f"2024-0{1 + k % 9}-1{k % 10}T10:00:00Z"
    if rng.random() < 0.3:
        doc["meta"] = {"a/b": k, "t~x": None, "plain": "v"}
    if rng.random() < 0.2:
        doc["score"] = (k % 9) / 2
    if rng.random() < 0.1:
        doc["ip"] = f"10.0.0.{k % 250}"
    if rng.random() < 0.1:
        doc["blob"] = json.dumps({"k": k})
    for _ in range(rng.choice([0, 0, 1, 1, 2])):
        bad = rng.randrange(20)
        if bad == 0:
            doc["owner"]["email"] = "not-an-email"
        elif bad == 1:
            doc["owner"]["x-team"] = 7              # patternProperties type
        elif bad == 2:
            doc["owner"]["nick"] = "n"              # nested unevaluated
        elif bad == 3:
            doc["links"].append({"kind": "web", "title": "no url"})
        elif bad == 4:
            doc["links"].append({"kind": "doi", "doi": "11.1/x"})
        elif bad == 5:
            doc["tags"].append("Bad-Tag")
        elif bad == 6 and doc["tags"]:
            doc["tags"].append(doc["tags"][0])      # uniqueItems
        elif bad == 7:
            doc["when"] = "2024-13-01T00:00:00Z"
        elif bad == 8:
            doc["ip"] = "300.1.1.1"
        elif bad == 9:
            doc["extra"] = [1, {"deep": True}]      # root unevaluated
        elif bad == 10:
            doc["kind"] = "ext"                     # then: ext required
        elif bad == 11:
            doc["kind"], doc["ext"] = "ext", {}     # minProperties
        elif bad == 12:
            doc["ext"] = {"a": 1}                   # else: not required
        elif bad == 13:
            doc["meta"] = {"a/b": True, "c~d": [1]}
        elif bad == 14:
            doc["blob"] = "{not json"
        elif bad == 15:
            doc["blob"] = json.dumps({"j": None})
        elif bad == 16:
            doc["score"] = 100.25
        elif bad == 17:
            doc["id"] = rng.choice([-1, 1.5, None, "7"])
        elif bad == 18:
            doc["owner"].pop("name", None)
        else:
            doc["links"][0] = "not an object"       # prefixItems + oneOf
    return doc


def _pin_outputs(seed, n):
    import random
    rng = random.Random(seed)
    cs = compile_schema(PIN_SCHEMA, format_assertion=True)
    out = []
    for k in range(n):
        r = cs.validate(_pin_doc(rng, k))
        out.append([r.valid, [[e.keyword, e.schema_path, e.doc_path,
                               e.message, e.level, e.value]
                              for e in r.errors + r.warnings + r.infos]])
    return out


def test_full_output_pinned():
    """The interpreter's complete output on seeded nested documents is
    pinned: validity and every violation's keyword, schema path,
    document path, message, level and value stamp, in order.  Covers a
    ``$ref``'d ``oneOf``, ``unevaluatedProperties`` at the root (fed by
    ``allOf``/``if``/``dependentSchemas`` annotations) and inside a
    ``$defs`` object, asserted formats, ``uniqueItems``, content
    warnings, and keys that need JSON-pointer escaping."""
    import hashlib
    out = _pin_outputs(1212, 600)
    n_valid = sum(v for v, _ in out)
    n_viol = sum(len(es) for _, es in out)
    digest = hashlib.sha256(json.dumps(out).encode()).hexdigest()
    assert (n_valid, n_viol, digest) == (
        284, 1200,
        "8d9dd82551784967b687489aae4508ad8dab03e518a64787c95374e6e917983a")


# ---- value stamps where violations are reported ----

@pytest.mark.parametrize("schema, doc, expected", [
    ({"allOf": [{"properties": {"a": {"minimum": 5}}},
                {"required": ["x"]}]}, {"a": 1},
     [("minimum", "/allOf/0/properties/a/minimum", "/a", "error", "1"),
      ("required", "/allOf/1/required", "", "error", '{"a":1}')]),
    ({"if": {"type": "integer"}, "then": {"minimum": 10},
      "else": {"maxLength": 2}}, 3,
     [("minimum", "/if/../then/minimum", "", "error", "3")]),
    ({"if": {"type": "integer"}, "then": {"minimum": 10},
      "else": {"maxLength": 2}}, "abc",
     [("maxLength", "/if/../else/maxLength", "", "error", "abc")]),
    ({"dependentSchemas": {"a": {"required": ["b"], "properties": {
        "a": {"type": "string"}}}}}, {"a": 1},
     [("required", "/dependentSchemas/a/required", "", "error", '{"a":1}'),
      ("type", "/dependentSchemas/a/properties/a/type", "/a", "error",
       "1")]),
    ({"$defs": {"p": {"maximum": 3}},
      "properties": {"n": {"$ref": "#/$defs/p"}}}, {"n": 4},
     [("maximum", "/properties/n/$ref/maximum", "/n", "error", "4")]),
    ({"$schema": "http://json-schema.org/draft-07/schema#",
      "definitions": {"p": {"maximum": 3}}, "$ref": "#/definitions/p"}, 4,
     [("maximum", "/maximum", "", "error", "4")]),
    # content warnings: the content root is stamped with the raw
    # string, deeper content violations carry no value
    ({"contentMediaType": "application/json", "contentSchema": {
        "required": ["k"], "properties": {"j": {"type": "string"}}}},
     '{"j":1}',
     [("required", "/contentMediaType/contentSchema/required", "",
       "warning", '{"j":1}'),
      ("type", "/contentMediaType/contentSchema/properties/j/type", "/j",
       "warning", None)]),
    ({"contentMediaType": "application/json",
      "contentSchema": {"type": "object"}}, "null",
     [("type", "/contentMediaType/contentSchema/type", "", "warning",
       "null")]),
])
def test_value_stamped_where_reported(schema, doc, expected):
    r = compile_schema(schema).validate(doc)
    assert [f[:3] + f[4:] for f in _fields(r)] == expected


def test_non_json_value_under_type():
    """A Python value outside the JSON model raises the type lattice's
    TypeError wherever its type is asked, and passes where it is not."""
    for schema in ({"type": "string"}, {"type": "integer"},
                   {"type": ["string", "null"]},
                   {"anyOf": [{"type": "string"}, {}]}):
        with pytest.raises(TypeError, match="not a JSON value"):
            compile_schema(schema).validate({1, 2})
    assert compile_schema({"type": "any"}, draft="draft3").validate(
        {1, 2}).valid
    assert compile_schema({"type": "array"}).validate((1, 2)).valid

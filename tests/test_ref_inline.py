"""Eager $ref/$defs inlining in the columnar compiler (SURVEY §2.8):
local acyclic refs compile to pure-JVM plans that agree with the Arrow
interpreter; recursive/external/dynamic refs still route to the interp
via UnsupportedKeyword.  Reference semantics: old-draft replace-siblings
vs 2019+ meld (property.cljc:227-295, ref.cljc:133-151)."""

from __future__ import annotations

import json

import pytest

from m3spark.columnar import ColumnarValidator, UnsupportedKeyword
from m3spark.sparkval import validate_json

D7 = "http://json-schema.org/draft-07/schema#"
D2019 = "https://json-schema.org/draft/2019-09/schema"
D2020 = "https://json-schema.org/draft/2020-12/schema"


def _parity(spark, schema, rows, ddl, names, **kw):
    df = spark.createDataFrame(rows, ddl)
    cv = ColumnarValidator(schema, **kw)
    # the inlined plan must be pure JVM — no pandas-UDF stages
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    got_col = [r["valid"] for r in cv.apply(df).select("valid").collect()]
    docs = [json.dumps({k: v for k, v in zip(names, row) if v is not None})
            for row in rows]
    out = validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        schema, **kw)
    got_interp = [r["valid"] for r in out.select("valid").collect()]
    assert got_col == got_interp
    return got_col


def test_defs_reuse_flat_2020(spark):
    schema = {
        "$schema": D2020,
        "$defs": {"pos": {"type": "integer", "minimum": 1},
                  "short": {"type": "string", "maxLength": 3}},
        "properties": {"a": {"$ref": "#/$defs/pos"},
                       "b": {"$ref": "#/$defs/pos", "maximum": 10},
                       "c": {"$ref": "#/$defs/short"}},
    }
    rows = [(2, 5, "ok"), (0, 5, "ok"), (2, 11, "ok"), (2, 5, "toolong"),
            (None, None, None)]
    got = _parity(spark, schema, rows, "a int, b int, c string",
                  ("a", "b", "c"))
    # b=11 fails the melded sibling maximum; b must also satisfy the ref
    assert got == [True, False, False, False, True]


def test_draft7_ref_replaces_siblings(spark):
    # draft-7: the sibling maximum is IGNORED next to $ref
    schema = {
        "$schema": D7,
        "definitions": {"pos": {"type": "integer", "minimum": 1}},
        "properties": {"b": {"$ref": "#/definitions/pos", "maximum": 3}},
    }
    rows = [(2,), (99,), (0,)]
    got = _parity(spark, schema, rows, "b int", ("b",))
    assert got == [True, True, False]  # 99 valid: maximum dropped


def test_ref_chain_and_anchor(spark):
    schema = {
        "$schema": D2020,
        "$defs": {"a": {"$ref": "#/$defs/b"},
                  "b": {"$anchor": "leaf", "type": "string",
                        "minLength": 2},
                  "c": {"$ref": "#leaf"}},
        "properties": {"x": {"$ref": "#/$defs/a"},
                       "y": {"$ref": "#/$defs/c"}},
    }
    rows = [("ab", "cd"), ("a", "cd"), ("ab", "c")]
    got = _parity(spark, schema, rows, "x string, y string", ("x", "y"))
    assert got == [True, False, False]


def test_ref_branch_claims_unevaluated(spark):
    """$ref claim contribution to the unevaluated* algebra: a oneOf
    branch that is just a $ref claims (on success) whatever the ref'd
    schema claims — annotation-scope isolation."""
    schema = {
        "$schema": D2019,
        "$defs": {
            "withA": {"properties": {"a": {"type": "integer"}},
                      "required": ["a"]},
            "withB": {"properties": {"b": {"type": "string"}},
                      "required": ["b"]},
        },
        "oneOf": [{"$ref": "#/$defs/withA"}, {"$ref": "#/$defs/withB"}],
        "unevaluatedProperties": False,
    }
    # (a only) ok; (b only) ok; (a,b) -> the succeeding branch claims
    # only its own key, the other stays unevaluated -> invalid;
    # () -> oneOf fails
    rows = [(1, None), (None, "x"), (1, "x"), (None, None)]
    got = _parity(spark, schema, rows, "a int, b string", ("a", "b"))
    assert got == [True, True, False, False]


def test_ref_meld_with_unevaluated(spark):
    """2019+: {"$ref": X, "unevaluatedProperties": false} — claims from
    inside the ref count for the adjacent unevaluatedProperties."""
    schema = {
        "$schema": D2019,
        "$defs": {"base": {"properties": {"a": {"type": "integer"}}}},
        "$ref": "#/$defs/base",
        "properties": {"b": {"type": "string"}},
        "unevaluatedProperties": False,
    }
    rows = [(1, "x", None), (1, "x", 2.0)]
    got = _parity(spark, schema, rows, "a int, b string, c double",
                  ("a", "b", "c"))
    assert got == [True, False]


def test_ref_inside_struct_column(spark):
    schema = {
        "$schema": D2020,
        "$defs": {"name": {"type": "string", "minLength": 2}},
        "properties": {
            "meta": {"type": "object",
                     "properties": {"author": {"$ref": "#/$defs/name"}},
                     "required": ["author"]}},
    }
    df = spark.createDataFrame(
        [(("ab",),), (("a",),), ((None,),)],
        "meta struct<author: string>")
    cv = ColumnarValidator(schema)
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    got = [r["valid"] for r in cv.apply(df).select("valid").collect()]
    assert got == [True, False, False]


def test_recursive_ref_unrolls_columnar(spark):
    """A PRODUCTIVE cycle (recursion through `properties`) no longer
    routes to the interp: inline.py unrolls it and the plan stays pure
    JVM for any table whose column types nest no deeper than the unroll
    (SURVEY §2.8 bounded depth unroll; reference lazy resolution
    property.cljc:204-295)."""
    schema = {
        "$schema": D2020,
        "$defs": {"node": {"properties": {"next": {"$ref": "#/$defs/node"},
                                          "v": {"maximum": 10}},
                           "type": "object"}},
        "properties": {"tree": {"$ref": "#/$defs/node"}},
    }
    rows = [({"v": 5, "next": {"v": 3, "next": None}},),
            ({"v": 5, "next": {"v": 30, "next": None}},),
            ({"v": 50, "next": None},), (None,)]
    ddl = ("tree struct<v:int,"
           "next:struct<v:int,next:struct<v:int>>>")
    df = spark.createDataFrame(rows, ddl)
    cv = ColumnarValidator(schema)
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    out = cv.apply(df)
    got = [r["valid"] for r in out.select("valid").collect()]
    assert got == [True, False, False, True]
    # nested violation identity survives the unroll: exact keyword +
    # RFC 6901 doc path + leaf value
    viols = {(r["doc_path"], r["keyword"], r["value"])
             for r in out.selectExpr("inline(violations)").collect()}
    assert ("/tree/next/v", "maximum", "30") in viols
    assert ("/tree/v", "maximum", "50") in viols
    # interp agrees on valid for the same documents
    docs = [json.dumps({"tree": {"v": 5, "next": {"v": 3}}}),
            json.dumps({"tree": {"v": 5, "next": {"v": 30}}}),
            json.dumps({"tree": {"v": 50}}), "{}"]
    interp = [r["valid"] for r in validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        schema).collect()]
    assert interp == got


def test_recursive_ref_deep_type_falls_back(spark):
    """A table typed DEEPER than the unroll raises UnsupportedKeyword at
    apply() — the declared route to the Arrow interp — while the same
    schema over a shallow type compiles clean."""
    schema = {
        "$schema": D2020,
        "$defs": {"node": {"properties": {"next": {"$ref": "#/$defs/node"}},
                           "type": "object"}},
        "properties": {"tree": {"$ref": "#/$defs/node"}},
    }
    shallow = spark.createDataFrame(
        [({"next": None},)], "tree struct<next:struct<x:int>>")
    deep_ddl = "struct<x:int>"
    for _ in range(5):
        deep_ddl = f"struct<next:{deep_ddl}>"
    deep = spark.createDataFrame([(None,)], f"tree {deep_ddl}")
    cv = ColumnarValidator(schema, ref_unroll=3)
    assert [r["valid"] for r in cv.apply(shallow).collect()] == [True]
    with pytest.raises(UnsupportedKeyword):
        cv.apply(deep)


def test_mutual_recursion_unrolls(spark):
    """a -> b -> a through properties is productive on every loop and
    unrolls like direct recursion."""
    schema = {
        "$schema": D2020,
        "$defs": {
            "a": {"properties": {"b": {"$ref": "#/$defs/b"}},
                  "required": ["va"]},
            "b": {"properties": {"a": {"$ref": "#/$defs/a"}},
                  "required": ["vb"]},
        },
        "properties": {"root": {"$ref": "#/$defs/a"}},
    }
    ddl = ("root struct<va:int,b:struct<vb:int,a:struct<va:int>>>")
    rows = [({"va": 1, "b": {"vb": 2, "a": {"va": 3}}},),
            ({"va": 1, "b": {"vb": 2, "a": {"va": None}}},),  # a w/o va
            ({"va": 1, "b": {"vb": None, "a": {"va": 3}}},),  # b w/o vb
            (None,)]
    df = spark.createDataFrame(rows, ddl)
    cv = ColumnarValidator(schema)
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    got = [r["valid"] for r in cv.apply(df).select("valid").collect()]
    assert got == [True, False, False, True]
    # interp agrees (NULL field == absent property, the engine's typed-
    # column convention, so the docs omit the nulls)
    docs = [json.dumps({"root": {"va": 1, "b": {"vb": 2,
                                                "a": {"va": 3}}}}),
            json.dumps({"root": {"va": 1, "b": {"vb": 2, "a": {}}}}),
            json.dumps({"root": {"va": 1, "b": {"a": {"va": 3}}}}),
            "{}"]
    interp = [r["valid"] for r in validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        schema).collect()]
    assert interp == got


def test_nonproductive_cycle_still_gives_up(spark):
    """A $ref loop that never descends through a data keyword cannot be
    unrolled (it would never consume input depth): the inliner keeps the
    schema and the compiler routes it to the interp."""
    schema = {
        "$schema": D2020,
        "$defs": {"a": {"allOf": [{"$ref": "#/$defs/b"}]},
                  "b": {"anyOf": [{"$ref": "#/$defs/a"}]}},
        "properties": {"x": {"$ref": "#/$defs/a"}},
    }
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema)


def test_propertynames_cycle_gives_up(spark):
    """Recursion through propertyNames must NOT unroll: its fragment is
    evaluated driver-side by the interpreter, which would silently
    ignore a planted guard."""
    schema = {
        "$schema": D2020,
        "$defs": {"n": {"propertyNames": {"$ref": "#/$defs/n"}}},
        "properties": {"x": {"$ref": "#/$defs/n"}},
    }
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema)


def test_recursion_through_items_unrolls(spark):
    """Array-element recursion (tree-of-lists idiom) is productive
    through `items` and unrolls; the guard sits past the element-type
    depth so typed tables stay pure JVM."""
    schema = {
        "$schema": D2020,
        "$defs": {"node": {
            "properties": {"v": {"minimum": 0},
                           "kids": {"items": {"$ref": "#/$defs/node"},
                                    "type": "array"}},
            "type": "object"}},
        "properties": {"t": {"$ref": "#/$defs/node"}},
    }
    ddl = "t struct<v:int,kids:array<struct<v:int>>>"
    rows = [({"v": 1, "kids": [{"v": 2}, {"v": 3}]},),
            ({"v": 1, "kids": [{"v": -2}]},),
            ({"v": -1, "kids": None},), (None,)]
    got = _parity(spark, schema, rows, ddl, ("t",))
    assert got == [True, False, False, True]


def test_external_ref_routes_to_interp(spark):
    schema = {"properties": {"a": {"$ref": "https://example.com/s.json"}}}
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema)


def test_external_dynamic_ref_routes_to_interp(spark):
    """$dynamicRef to another resource cannot be fixed statically."""
    schema = {
        "$schema": D2020,
        "properties": {"a": {"$dynamicRef": "https://ex.example/s#it"}},
    }
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema)


def test_ref_in_dependent_schema(spark):
    schema = {
        "$schema": D2019,
        "$defs": {"needsB": {"required": ["b"]}},
        "dependentSchemas": {"a": {"$ref": "#/$defs/needsB"}},
    }
    rows = [(1, "x"), (1, None), (None, None)]
    got = _parity(spark, schema, rows, "a int, b string", ("a", "b"))
    assert got == [True, False, True]


# -- r6 advice: late feasibility scan of pointer targets outside known
# -- schema positions (inline.py _resolve) ------------------------------

def test_pointer_into_unknown_position_nested_id_gives_up():
    """A $ref landing under an unknown keyword whose subtree changes the
    base URI must NOT inline (inner refs would silently resolve against
    the wrong base)."""
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "$defs": {"pos": {"type": "integer", "minimum": 1}},
        "x-templates": {"t": {"$id": "https://elsewhere.example/s",
                              "properties": {"p": {"$ref": "#/$defs/pos"}}}},
        "properties": {"a": {"$ref": "#/x-templates/t"}},
    }
    assert inline_local_refs(schema, "draft2020-12") is schema


def test_pointer_into_unknown_position_dynamic_ref_gives_up():
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "x-templates": {"t": {"$dynamicRef": "#it"}},
        "properties": {"a": {"$ref": "#/x-templates/t"}},
    }
    assert inline_local_refs(schema, "draft2020-12") is schema


def test_pointer_into_unknown_position_external_ref_gives_up():
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "x-templates": {"t": {"$ref": "https://example.com/s.json"}},
        "properties": {"a": {"$ref": "#/x-templates/t"}},
    }
    assert inline_local_refs(schema, "draft2020-12") is schema


def test_pointer_into_unknown_position_clean_target_inlines():
    """The late scan must not over-fire: a clean subtree under an
    unknown keyword still inlines."""
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "x-templates": {"t": {"type": "integer", "minimum": 1}},
        "properties": {"a": {"$ref": "#/x-templates/t"}},
    }
    out = inline_local_refs(schema, "draft2020-12")
    assert out is not schema
    assert out["properties"]["a"] == {"type": "integer", "minimum": 1}


def test_overlapping_unscanned_targets_anchor_idempotent():
    """Two pointers into nested positions of the same unscanned subtree:
    the second (outer) scan re-sees the inner $anchor — must stay
    idempotent, not a spurious duplicate-anchor GiveUp."""
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "x-templates": {
            "outer": {"properties": {
                "q": {"$anchor": "qq", "type": "string"}}},
        },
        "properties": {
            "a": {"$ref": "#/x-templates/outer/properties/q"},
            "b": {"$ref": "#/x-templates/outer"},
        },
    }
    out = inline_local_refs(schema, "draft2020-12")
    assert out is not schema
    assert out["properties"]["a"] == {"type": "string"}
    assert out["properties"]["b"] == {
        "properties": {"q": {"type": "string"}}}


# -- r6: static scope-chain simulation for $recursiveRef/$dynamicRef
# -- (SURVEY §2.8) — single-resource world makes them static ------------

DNEXT = "https://json-schema.org/draft/next/schema"


def test_recursive_ref_2019_unrolls_columnar(spark):
    """The 2019-09 tree idiom: $recursiveRef '#' resolves to the (only)
    resource root whether or not it carries $recursiveAnchor — with one
    resource in the dynamic scope the dynamic and lexical answers
    coincide (core.py c_recursive_ref; reference
    property.cljc:131-168,302-384)."""
    for anchored in (True, False):
        schema = {
            "$schema": D2019, "type": "object",
            "properties": {"next": {"$recursiveRef": "#"},
                           "v": {"maximum": 10}},
        }
        if anchored:
            schema["$recursiveAnchor"] = True
        ddl = ("next struct<v:int,next:struct<v:int,next:struct<v:int>>>,"
               "v int")
        df = spark.createDataFrame(
            [({"v": 3, "next": None}, 5),
             ({"v": 30, "next": None}, 5),
             (None, 50), (None, None)], ddl)
        cv = ColumnarValidator(schema)
        assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
        got = [r["valid"] for r in cv.apply(df).select("valid").collect()]
        docs = [json.dumps({"v": 5, "next": {"v": 3}}),
                json.dumps({"v": 5, "next": {"v": 30}}),
                json.dumps({"v": 50}), "{}"]
        interp = [r["valid"] for r in validate_json(
            spark.createDataFrame([(x,) for x in docs], "doc string"),
            schema).collect()]
        assert got == interp == [True, False, False, True], anchored


def test_dynamic_ref_bookended_tree_unrolls(spark):
    """2020-12 bookended $dynamicRef (the meta-schema idiom): resolves
    to the root resource's $dynamicAnchor node and unrolls like plain
    recursive $ref (core.py c_dynamic_ref; property.cljc:170-197)."""
    schema = {
        "$schema": D2020,
        "$defs": {"node": {
            "$dynamicAnchor": "node", "type": "object",
            "properties": {"next": {"$dynamicRef": "#node"},
                           "v": {"maximum": 10}}}},
        "properties": {"tree": {"$dynamicRef": "#node"}},
    }
    rows = [({"v": 5, "next": {"v": 3, "next": None}},),
            ({"v": 5, "next": {"v": 30, "next": None}},),
            ({"v": 50, "next": None},), (None,)]
    ddl = "tree struct<v:int,next:struct<v:int,next:struct<v:int>>>"
    df = spark.createDataFrame(rows, ddl)
    cv = ColumnarValidator(schema)
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    out = cv.apply(df)
    got = [r["valid"] for r in out.select("valid").collect()]
    # nested violation identity survives the dynamic unroll
    viols = {(r["doc_path"], r["keyword"], r["value"])
             for r in out.selectExpr("inline(violations)").collect()}
    assert ("/tree/next/v", "maximum", "30") in viols
    assert ("/tree/v", "maximum", "50") in viols
    docs = [json.dumps({"tree": {"v": 5, "next": {"v": 3}}}),
            json.dumps({"tree": {"v": 5, "next": {"v": 30}}}),
            json.dumps({"tree": {"v": 50}}), "{}"]
    interp = [r["valid"] for r in validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        schema).collect()]
    assert got == interp == [True, False, False, True]


def test_dynamic_ref_deep_type_falls_back(spark):
    """Beyond the unroll the planted guard still routes deeper-typed
    tables to the interp at apply() — same machinery as plain $ref."""
    schema = {
        "$schema": D2020,
        "$defs": {"node": {"$dynamicAnchor": "n", "type": "object",
                           "properties": {"next": {"$dynamicRef": "#n"}}}},
        "properties": {"tree": {"$dynamicRef": "#n"}},
    }
    deep_ddl = "struct<x:int>"
    for _ in range(5):
        deep_ddl = f"struct<next:{deep_ddl}>"
    deep = spark.createDataFrame([(None,)], f"tree {deep_ddl}")
    cv = ColumnarValidator(schema, ref_unroll=3)
    with pytest.raises(UnsupportedKeyword):
        cv.apply(deep)


def test_dynamic_ref_unbookended_is_plain_ref(spark):
    """2020-12 WITHOUT a $dynamicAnchor bookend: plain-$ref semantics
    against the lexical $anchor (core.py c_dynamic_ref is_dynamic)."""
    schema = {
        "$schema": D2020,
        "$defs": {"x": {"$anchor": "it", "type": "string",
                        "minLength": 2}},
        "properties": {"a": {"$dynamicRef": "#it"}},
    }
    rows = [("ab",), ("a",), (None,)]
    got = _parity(spark, schema, rows, "a string", ("a",))
    assert got == [True, False, True]


def test_dynamic_ref_draft_next_anchor_fallback(spark):
    """draft-next: no bookend requirement; with no $dynamicAnchor in
    scope the static fallback is the plain $anchor."""
    schema = {
        "$schema": DNEXT,
        "$defs": {"x": {"$anchor": "it", "type": "string",
                        "minLength": 2}},
        "properties": {"a": {"$dynamicRef": "#it"}},
    }
    rows = [("ab",), ("a",), (None,)]
    got = _parity(spark, schema, rows, "a string", ("a",))
    assert got == [True, False, True]


def test_dynamic_ref_pointer_fragment_is_plain(spark):
    """A pointer-fragment $dynamicRef is a plain reference in every
    draft (is_dynamic requires a name fragment)."""
    schema = {
        "$schema": D2020,
        "$defs": {"pos": {"type": "integer", "minimum": 1}},
        "properties": {"a": {"$dynamicRef": "#/$defs/pos"}},
    }
    rows = [(2,), (0,), (None,)]
    got = _parity(spark, schema, rows, "a int", ("a",))
    assert got == [True, False, True]


def test_dynamic_anchor_shadowed_by_plain_anchor_target(spark):
    """$dynamicAnchor answers PLAIN $ref lookups too (mirrors
    _Index.index anchors.setdefault)."""
    schema = {
        "$schema": D2020,
        "$defs": {"x": {"$dynamicAnchor": "it", "type": "string",
                        "minLength": 2}},
        "properties": {"a": {"$ref": "#it"}},
    }
    rows = [("ab",), ("a",), (None,)]
    got = _parity(spark, schema, rows, "a string", ("a",))
    assert got == [True, False, True]


def test_inactive_recursive_ref_stripped(spark):
    """$recursiveRef under 2020-12 is an unknown keyword the interp
    ignores entirely — the inliner strips it so the query stays
    columnar instead of routing to the interp over a no-op."""
    schema = {
        "$schema": D2020,
        "properties": {"a": {"$recursiveRef": "#", "type": "integer",
                             "minimum": 1}},
    }
    rows = [(2,), (0,), (None,)]
    got = _parity(spark, schema, rows, "a int", ("a",))
    assert got == [True, False, True]


def test_inactive_dynamic_ref_stripped(spark):
    """$dynamicRef under 2019-09 is inactive (keyword table) and is
    stripped for the same reason."""
    schema = {
        "$schema": D2019,
        "properties": {"a": {"$dynamicRef": "#nowhere", "type": "integer",
                             "minimum": 1}},
    }
    rows = [(2,), (0,), (None,)]
    got = _parity(spark, schema, rows, "a int", ("a",))
    assert got == [True, False, True]


def test_duplicate_dynamic_anchor_gives_up():
    """Two $dynamicAnchor declarations of the same name are ambiguous
    under static resolution — keep the original schema (interp route)."""
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "$defs": {"x": {"$dynamicAnchor": "it", "type": "string"},
                  "y": {"$dynamicAnchor": "it", "type": "integer"}},
        "properties": {"a": {"$dynamicRef": "#it"}},
    }
    assert inline_local_refs(schema, "draft2020-12") is schema


def test_unresolvable_dynamic_ref_next_gives_up():
    """draft-next with neither $dynamicAnchor nor $anchor: the interp
    emits a per-row 'no anchor in dynamic scope' error — that path
    stays with the interp."""
    from m3spark.columnar.inline import inline_local_refs

    schema = {"$schema": DNEXT,
              "properties": {"a": {"$dynamicRef": "#missing"}}}
    assert inline_local_refs(schema, "draft-next") is schema


def test_late_scanned_dynamic_anchor_stays_inert():
    """A $dynamicAnchor inside a subtree reachable only through a
    pointer into an unknown keyword is NEVER registered by the interp's
    _Index (core.py _iter_subschemas walks schema positions only) — the
    inliner must not register it either, so a $dynamicRef to that name
    stays unresolvable and the schema routes to the interp."""
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "x-templates": {"t": {"$dynamicAnchor": "it", "type": "string"}},
        "properties": {"a": {"$ref": "#/x-templates/t"},
                       "b": {"$dynamicRef": "#it"}},
    }
    assert inline_local_refs(schema, "draft2020-12") is schema


def test_dynamic_ref_meld_with_siblings(spark):
    """2020-12 melds $dynamicRef with its siblings like $ref: both the
    resolved target and the sibling constraints must hold."""
    schema = {
        "$schema": D2020,
        "$defs": {"pos": {"$dynamicAnchor": "pos", "type": "integer",
                          "minimum": 1}},
        "properties": {"a": {"$dynamicRef": "#pos", "maximum": 10}},
    }
    rows = [(2,), (0,), (11,), (None,)]
    got = _parity(spark, schema, rows, "a int", ("a",))
    assert got == [True, False, False, True]


def test_ref_and_dynamic_ref_same_node(spark):
    """A node carrying BOTH $ref and $dynamicRef contributes two
    independent branches (core.py _compile_object keyword list)."""
    schema = {
        "$schema": D2020,
        "$defs": {"short": {"type": "string", "maxLength": 3},
                  "low": {"$dynamicAnchor": "low", "minLength": 2}},
        "properties": {"a": {"$ref": "#/$defs/short",
                             "$dynamicRef": "#low"}},
    }
    rows = [("ab",), ("abcd",), ("a",), (None,)]
    got = _parity(spark, schema, rows, "a string", ("a",))
    assert got == [True, False, False, True]


# -- r6: multi-resource bundles (nested $id) with static scope-chain
# -- simulation — the tree/strict-tree idiom resolves per path ----------

def test_bundle_cross_resource_ref(spark):
    """A bundled resource referenced by absolute URI; its inner refs
    resolve against ITS base, not the document root."""
    schema = {
        "$schema": D2020,
        "$defs": {
            "addr": {"$id": "https://ex.test/addr",
                     "type": "object",
                     "properties": {"zip": {"$ref": "#/$defs/zip"}},
                     "$defs": {"zip": {"type": "string",
                                       "minLength": 3}}},
        },
        "properties": {"a": {"$ref": "https://ex.test/addr"}},
    }
    ddl = "a struct<zip:string>"
    rows = [({"zip": "123"},), ({"zip": "1"},), (None,)]
    got = _parity(spark, schema, rows, ddl, ("a",))
    assert got == [True, False, True]


def test_bundle_relative_id_resolution(spark):
    """Nested $id resolved RFC-3986-relative against the root $id."""
    schema = {
        "$schema": D2020,
        "$id": "https://ex.test/root.json",
        "$defs": {
            "item": {"$id": "sub/item.json", "type": "integer",
                     "minimum": 1},
        },
        "properties": {"a": {"$ref": "sub/item.json"},
                       "b": {"$ref": "https://ex.test/sub/item.json"}},
    }
    rows = [(2, 2), (0, 2), (2, 0), (None, None)]
    got = _parity(spark, schema, rows, "a int, b int", ("a", "b"))
    assert got == [True, False, False, True]


def test_bundle_same_anchor_name_per_resource(spark):
    """The same anchor name in two resources: (resource URI, name)
    keying disambiguates, mirroring the interp's _Index."""
    schema = {
        "$schema": D2020,
        "$defs": {
            "r1": {"$id": "https://ex.test/r1",
                   "$defs": {"x": {"$anchor": "it", "type": "string",
                                   "minLength": 2}}},
            "r2": {"$id": "https://ex.test/r2",
                   "$defs": {"x": {"$anchor": "it", "type": "integer",
                                   "minimum": 5}}},
        },
        "properties": {"s": {"$ref": "https://ex.test/r1#it"},
                       "n": {"$ref": "https://ex.test/r2#it"}},
    }
    rows = [("ab", 7), ("a", 7), ("ab", 1), (None, None)]
    got = _parity(spark, schema, rows, "s string, n int", ("s", "n"))
    assert got == [True, False, False, True]


def test_bundle_pointer_into_resource(spark):
    """A pointer fragment on a cross-resource ref applies from THAT
    resource's root."""
    schema = {
        "$schema": D2020,
        "$defs": {
            "lib": {"$id": "https://ex.test/lib",
                    "$defs": {"name": {"type": "string",
                                       "maxLength": 3}}},
        },
        "properties": {"a": {"$ref": "https://ex.test/lib#/$defs/name"}},
    }
    rows = [("abc",), ("abcd",), (None,)]
    got = _parity(spark, schema, rows, "a string", ("a",))
    assert got == [True, False, True]


def _tree_bundle(draft_uri, anchor_kw, ref_kw):
    """tree / strict-tree: the SAME dynamic ref resolves differently
    depending on which resource the evaluation entered through."""
    if anchor_kw == "$dynamicAnchor":
        strict_extra = {"$dynamicAnchor": "node"}
        tree_extra = {"$dynamicAnchor": "node"}
        leaf_ref = {"$dynamicRef": "#node"}
    else:
        strict_extra = {"$recursiveAnchor": True}
        tree_extra = {"$recursiveAnchor": True}
        leaf_ref = {"$recursiveRef": "#"}
    return {
        "$schema": draft_uri,
        "$defs": {
            "strict": {"$id": "https://ex.test/strict-tree",
                       "$ref": "https://ex.test/tree",
                       "unevaluatedProperties": False, **strict_extra},
            "tree": {"$id": "https://ex.test/tree",
                     "type": "object",
                     "properties": {
                         "data": {"type": "integer"},
                         "children": {"type": "array",
                                      "items": leaf_ref}},
                     **tree_extra},
        },
        "properties": {"t": {"$ref": "https://ex.test/strict-tree"},
                       "u": {"$ref": "https://ex.test/tree"}},
    }


@pytest.mark.parametrize("draft_uri,anchor_kw", [
    (D2020, "$dynamicAnchor"),   # bookended $dynamicRef
    (D2019, "$recursiveAnchor"),  # $recursiveRef '#'
])
def test_tree_strict_tree_path_dependent(spark, draft_uri, anchor_kw):
    """THE dynamic-scope case (official-suite dynamicRef idiom; SURVEY
    §2.8 scope-chain simulation): entering through strict-tree, the
    child's dynamic ref re-binds to strict-tree (extra properties
    invalid); entering the SAME tree resource directly, it binds to
    tree (extra properties fine).  The static simulation reproduces
    both because the chain is known per expansion path."""
    schema = _tree_bundle(draft_uri, anchor_kw, None)
    ddl = ("t struct<data:int,children:array<struct<data:int,extra:int>>>,"
           "u struct<data:int,children:array<struct<data:int,extra:int>>>")
    df = spark.createDataFrame(
        [({"data": 1, "children": [{"data": 2}]},
          {"data": 1, "children": [{"data": 2}]}),
         ({"data": 1, "children": [{"data": 2, "extra": 3}]}, None),
         (None, {"data": 1, "children": [{"data": 2, "extra": 3}]}),
         (None, None)], ddl)
    cv = ColumnarValidator(schema)
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    got = [r["valid"] for r in cv.apply(df).select("valid").collect()]
    # row 2: extra under strict entry -> unevaluated -> invalid
    # row 3: extra under tree entry -> tolerated
    assert got == [True, False, True, True]
    docs = [
        json.dumps({"t": {"data": 1, "children": [{"data": 2}]},
                    "u": {"data": 1, "children": [{"data": 2}]}}),
        json.dumps({"t": {"data": 1,
                          "children": [{"data": 2, "extra": 3}]}}),
        json.dumps({"u": {"data": 1,
                          "children": [{"data": 2, "extra": 3}]}}),
        "{}"]
    interp = [r["valid"] for r in validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        schema).collect()]
    assert interp == got


def test_bundle_duplicate_resource_uri_gives_up():
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "$defs": {"a": {"$id": "https://ex.test/dup", "type": "string"},
                  "b": {"$id": "https://ex.test/dup", "type": "integer"}},
        "properties": {"x": {"$ref": "https://ex.test/dup"}},
    }
    assert inline_local_refs(schema, "draft2020-12") is schema


def test_mid_schema_draft_switch_gives_up():
    """A nested resource declaring a DIFFERENT draft cannot be inlined
    into a single-draft output tree."""
    from m3spark.columnar.inline import inline_local_refs

    schema = {
        "$schema": D2020,
        "$defs": {"old": {"$id": "https://ex.test/old", "$schema": D7,
                          "type": "integer"}},
        "properties": {"x": {"$ref": "https://ex.test/old"}},
    }
    assert inline_local_refs(schema, "draft2020-12") is schema


def test_bundle_recursion_across_resources_unrolls(spark):
    """Mutual recursion THROUGH two resources (a's items ref b, b's
    items ref a) is productive and unrolls with per-resource cycle
    keys."""
    schema = {
        "$schema": D2020,
        "$defs": {
            "a": {"$id": "https://ex.test/a", "type": "object",
                  "properties": {"b": {"$ref": "https://ex.test/b"},
                                 "va": {"minimum": 0}}},
            "b": {"$id": "https://ex.test/b", "type": "object",
                  "properties": {"a": {"$ref": "https://ex.test/a"},
                                 "vb": {"maximum": 10}}},
        },
        "properties": {"root": {"$ref": "https://ex.test/a"}},
    }
    ddl = "root struct<va:int,b:struct<vb:int,a:struct<va:int>>>"
    rows = [({"va": 1, "b": {"vb": 2, "a": {"va": 3}}},),
            ({"va": -1, "b": {"vb": 2, "a": {"va": 3}}},),
            ({"va": 1, "b": {"vb": 20, "a": {"va": 3}}},),
            ({"va": 1, "b": {"vb": 2, "a": {"va": -3}}},), (None,)]
    got = _parity(spark, schema, rows, ddl, ("root",))
    assert got == [True, False, False, False, True]


# -- r6: registry-resolved external schemas inline statically ----------

REG = {
    "https://reg.test/person": {
        "$id": "https://reg.test/person",
        "type": "object",
        "properties": {"name": {"$ref": "#/$defs/nm"},
                       "age": {"type": "integer", "minimum": 0}},
        "$defs": {"nm": {"type": "string", "minLength": 2}},
    },
    "https://reg.test/anything": True,
}


def test_registry_external_ref_lowers(spark):
    """A $ref to a registry entry inlines like an embedded resource —
    including the external schema's own internal refs, which resolve
    against ITS base (mirrors core.py _resolve_ref's lazy registry
    branch)."""
    schema = {
        "$schema": D2020,
        "properties": {"p": {"$ref": "https://reg.test/person"},
                       "x": {"$ref": "https://reg.test/anything"}},
    }
    ddl = "p struct<name:string,age:int>, x int"
    rows = [({"name": "ab", "age": 3}, 1),
            ({"name": "a", "age": 3}, 1),
            ({"name": "ab", "age": -1}, 1), (None, None)]
    got = _parity(spark, schema, rows, ddl, ("p", "x"), registry=REG)
    assert got == [True, False, False, True]


def test_registry_validate_table_roundtrip(spark):
    """validate_table threads the registry through BOTH engines: the
    columnar route when the schema lowers, the interp fallback when it
    does not (here: a registry entry declaring another draft)."""
    from m3spark.sparkval import validate_table

    df = spark.createDataFrame([({"name": "ab", "age": 3},),
                                ({"name": "a", "age": 3},)],
                               "p struct<name:string,age:int>")
    schema = {"$schema": D2020,
              "properties": {"p": {"$ref": "https://reg.test/person"}}}
    got = [r["valid"] for r in
           validate_table(df, schema, registry=REG).collect()]
    assert got == [True, False]
    # foreign-draft registry entry: inliner gives up, interp fallback
    # still resolves it through the SAME registry
    reg7 = {"https://reg.test/old": {"$schema": D7, "type": "object",
                                     "properties": {"name": {
                                         "minLength": 2}}}}
    schema7 = {"$schema": D2020,
               "properties": {"p": {"$ref": "https://reg.test/old"}}}
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema7, registry=reg7)
    got = [r["valid"] for r in
           validate_table(df, schema7, registry=reg7).collect()]
    assert got == [True, False]


def test_registry_dynamic_scope_across_external(spark):
    """strict-tree bundled LOCALLY, tree in the REGISTRY: the dynamic
    scope chain crosses the registry boundary exactly like an embedded
    bundle."""
    registry = {
        "https://reg.test/tree": {
            "$id": "https://reg.test/tree", "$dynamicAnchor": "node",
            "type": "object",
            "properties": {"data": {"type": "integer"},
                           "children": {"type": "array",
                                        "items": {"$dynamicRef": "#node"}}},
        },
    }
    schema = {
        "$schema": D2020,
        "$defs": {"strict": {"$id": "https://ex.test/strict-tree",
                             "$dynamicAnchor": "node",
                             "$ref": "https://reg.test/tree",
                             "unevaluatedProperties": False}},
        "properties": {"t": {"$ref": "https://ex.test/strict-tree"},
                       "u": {"$ref": "https://reg.test/tree"}},
    }
    ddl = ("t struct<data:int,children:array<struct<data:int,extra:int>>>,"
           "u struct<data:int,children:array<struct<data:int,extra:int>>>")
    rows = [({"data": 1, "children": [{"data": 2}]}, None),
            ({"data": 1, "children": [{"data": 2, "extra": 3}]}, None),
            (None, {"data": 1, "children": [{"data": 2, "extra": 3}]}),
            (None, None)]
    got = _parity(spark, schema, rows, ddl, ("t", "u"),
                  registry=registry)
    assert got == [True, False, True, True]


def test_registry_unreferenced_entry_ignored(spark):
    """Registry entries nothing references are never pulled in (lazy,
    like the interp) — even malformed ones."""
    schema = {
        "$schema": D2020,
        "$defs": {"pos": {"type": "integer", "minimum": 1}},
        "properties": {"a": {"$ref": "#/$defs/pos"}},
    }
    registry = {"https://reg.test/broken": "not a schema"}
    rows = [(2,), (0,)]
    got = _parity(spark, schema, rows, "a int", ("a",),
                  registry=registry)
    assert got == [True, False]


def test_custom_vocabulary_dialect_routes_to_interp(spark):
    """A registry meta-schema with $vocabulary restricts the ACTIVE
    keyword set; the interp honors it (core.py _meta_vocabulary +
    dialect_keywords), the columnar compiler does not filter keywords —
    so such schemas must take the interp route, where `minimum` under a
    core-only dialect is ignored."""
    from m3spark.sparkval import validate_table

    meta = {"$id": "https://dialect.test/meta",
            "$vocabulary": {
                "https://json-schema.org/draft/2020-12/vocab/core": True},
            }
    reg = {"https://dialect.test/meta": meta}
    schema = {"$schema": "https://dialect.test/meta",
              "properties": {"a": {"minimum": 5}}}
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema, registry=reg)
    df = spark.createDataFrame([(1,), (9,)], "a int")
    got = [r["valid"] for r in
           validate_table(df, schema, draft="draft2020-12",
                          registry=reg).collect()]
    # validation vocabulary inactive: minimum never fires
    assert got == [True, True]


def test_uri_dirs_remote_ref_lowers(spark):
    """File-served remote refs (the interp's uri_dirs loader) inline
    columnar through the same external cascade — statically known at
    compile time, loaded once on the driver."""
    from corpus_remote import remote_uri_dirs

    schema = {
        "$schema": D2020,
        "properties": {"n": {"$ref": "https://remote.test/int.json"}},
    }
    df = spark.createDataFrame([(3,), (None,)], "n int")
    cv = ColumnarValidator(schema, uri_dirs=remote_uri_dirs())
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    got = [r["valid"] for r in cv.apply(df).select("valid").collect()]
    # int.json: {"type": "integer"} family — 3 valid
    assert got[0] is True


def test_ref_to_vendored_meta_schema_resolves(spark):
    """$ref to a standard draft meta-schema URI resolves to the
    vendored copy (core.py _resolve_ref's meta branch), so validating
    a table of SCHEMA DOCUMENTS works on both engines."""
    from m3spark.sparkval import validate_table

    schema = {
        "$schema": D2020,
        "properties": {"s": {
            "$ref": "https://json-schema.org/draft/2020-12/schema"}},
    }
    # schema documents as typed structs: one valid, one with a bad type
    df = spark.createDataFrame(
        [({"type": "integer"},), ({"type": "nonsense"},)],
        "s struct<type:string>")
    got = [r["valid"] for r in validate_table(df, schema).collect()]
    ref = [r["valid"] for r in validate_json(
        spark.createDataFrame(
            [('{"s": {"type": "integer"}}',),
             ('{"s": {"type": "nonsense"}}',)], "doc string"),
        schema).collect()]
    assert got == ref == [True, False]


@pytest.mark.parametrize("order", ["plain_first", "dyn_first"])
def test_registry_admission_order_parity(spark, order):
    """A registry resource carrying a $dynamicAnchor, referenced by a
    plain $ref AND a bookend-checked $dynamicRef: both engines admit
    registry resources lazily in traversal order, so the bookend check
    may run before or after admission depending on which reference
    comes first — parity must hold either way."""
    registry = {"https://reg.test/node": {
        "$id": "https://reg.test/node", "$dynamicAnchor": "nd",
        "type": "integer", "minimum": 1}}
    props = {
        "p": {"$ref": "https://reg.test/node"},
        "d": {"$dynamicRef": "https://reg.test/node#nd"},
    }
    if order == "dyn_first":
        props = {"d": props["d"], "p": props["p"]}
    schema = {"$schema": D2020, "properties": props}
    rows = [(2, 2), (0, 2), (2, 0), (None, None)]
    ddl = "p int, d int" if order == "plain_first" else "d int, p int"
    names = ("p", "d") if order == "plain_first" else ("d", "p")
    got = _parity(spark, schema, rows,
                  "p int, d int" if order == "plain_first"
                  else "d int, p int",
                  names, registry=registry)
    if order == "plain_first":
        assert got == [True, False, False, True]
    else:
        assert got == [True, False, False, True]


D3 = "http://json-schema.org/draft-03/schema#"


def test_draft3_type_union_anchor_binds_like_interpreter(spark):
    """Draft-3 ``type`` unions may embed schemas, and the index walks
    them: here two nodes claim the anchor ``#x``, and the interpreter
    binds it to the one in the ``type`` union.  The columnar route must
    not bind it differently."""
    from m3spark.schema.core import compile_schema
    from m3spark.sparkval import validate_table

    schema = {"$schema": D3,
              "type": ["object", {"id": "#x", "maximum": 0}],
              "definitions": {"x": {"id": "#x", "minimum": 5}},
              "properties": {"a": {"$ref": "#x"}}}
    df = spark.createDataFrame([(7,), (-1,)], "a int")
    got = [r["valid"] for r in validate_table(df, schema).collect()]
    want = [compile_schema(schema).validate({"a": v}).valid for v in (7, -1)]
    assert got == want == [False, True]


def _function_defs(path):
    import ast

    return [n for n in ast.walk(ast.parse(path.read_text()))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def test_inliner_keeps_no_uri_registry():
    """The inliner resolves through the interpreter's ``_Index``: none
    of its former registry methods or state exist, and exactly one
    function in the package opens a ``uri_dirs`` file."""
    import ast
    from pathlib import Path

    import m3spark
    from m3spark.columnar import inline

    deleted = {"_scan", "_reg_resource", "_reg_anchor",
               "_register_external", "_load_from_dirs", "_anchor_node",
               "_resolve_recursive", "_resolve_dynamic", "_ref_active"}
    state = {"resources", "anchors", "dyn_anchors", "_hard", "ambiguous",
             "dyn_ambiguous", "_visited", "rec_anchor_roots", "node_base"}
    src = Path(inline.__file__)
    assert not deleted & {f.name for f in _function_defs(src)}
    assigned = {t.attr for n in ast.walk(ast.parse(src.read_text()))
                if isinstance(n, (ast.Assign, ast.AnnAssign))
                for t in (n.targets if isinstance(n, ast.Assign)
                          else [n.target])
                if isinstance(t, ast.Attribute)}
    assert not state & assigned

    def opens_uri_dirs(fn):
        names = set()
        for n in ast.walk(fn):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
        return "open" in names and "uri_dirs" in names

    openers = [(str(p), f.name)
               for p in Path(m3spark.__file__).parent.rglob("*.py")
               for f in _function_defs(p) if opens_uri_dirs(f)]
    assert len(openers) == 1, openers

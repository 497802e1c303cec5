"""Columnar nested keywords over typed array/struct columns (HOF
lowering: forall/filter/size/array_distinct/getField) — must agree with
the Python interpreter on the same documents."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from m3spark.columnar import ColumnarValidator
from m3spark.schema import compile_schema
from m3spark.sparkval import validate_json

SCHEMA = {
    "type": "object",
    "properties": {
        "tags": {"type": "array", "items": {"type": "string",
                                            "minLength": 2,
                                            "pattern": "^[a-z]+$"},
                 "minItems": 1, "maxItems": 4, "uniqueItems": True},
        "scores": {"contains": {"minimum": 90}, "minContains": 1,
                   "maxContains": 2},
        "meta": {"type": "object",
                 "required": ["kind"],
                 "properties": {"kind": {"enum": ["a", "b"]},
                                "weight": {"minimum": 0,
                                           "exclusiveMaximum": 10}}},
    },
}

ROWS = [
    # (tags, scores, (kind, weight))
    (["alpha", "beta"], [95.0, 10.0], ("a", 5.0)),          # valid
    (["x"], [95.0], ("b", 0.0)),                              # minLength
    (["alpha", "alpha"], [95.0], ("a", 1.0)),                 # uniqueItems
    ([], [91.0], ("a", 1.0)),                                  # minItems
    (["alpha"], [10.0, 20.0], ("a", 1.0)),                    # contains min
    (["alpha"], [91.0, 92.0, 93.0], ("a", 1.0)),              # maxContains
    (["alpha"], [95.0], (None, 1.0)),                          # required kind
    (["alpha"], [95.0], ("c", 1.0)),                           # enum
    (["alpha"], [95.0], ("a", 10.0)),                          # exclMax
    (["Alpha"], [95.0], ("a", 1.0)),                           # pattern
    (None, None, None),                                         # all missing
    (["alpha", "beta", "gamma", "delta", "eps"], [95.0], ("a", 1.0)),  # maxIt
]


@pytest.fixture(scope="module")
def typed_df(spark):
    return spark.createDataFrame(
        [(t, s, m) for t, s, m in ROWS],
        "tags array<string>, scores array<double>, "
        "meta struct<kind:string, weight:double>")


def test_nested_columnar_matches_interpreter(spark, typed_df):
    cv = ColumnarValidator(SCHEMA, format_assertion=True)
    got_col = [r["valid"] for r in cv.apply(typed_df)
               .select("valid").collect()]

    docs = []
    for tags, scores, meta in ROWS:
        d = {}
        if tags is not None:
            d["tags"] = tags
        if scores is not None:
            d["scores"] = scores
        if meta is not None:
            d["meta"] = {k: v for k, v in
                         zip(("kind", "weight"), meta) if v is not None}
        docs.append(json.dumps(d))
    out = validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        SCHEMA, format_assertion=True)
    got_interp = [r["valid"] for r in out.select("valid").collect()]

    expected = [True] + [False] * 9 + [True, False]
    assert got_col == got_interp == expected


def test_nested_stays_jvm_side(spark, typed_df):
    cv = ColumnarValidator(SCHEMA, format_assertion=True)
    plan = cv.apply(typed_df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_nested_violation_paths(spark, typed_df):
    cv = ColumnarValidator(SCHEMA, format_assertion=True)
    df = typed_df.withColumn("rid", F.monotonically_increasing_id())
    rows = cv.violation_rows(df, "rid").collect()
    paths = {r["doc_path"] for r in rows}
    assert "/meta/kind" in paths     # struct-field doc path
    assert "/tags" in paths


MAP_SCHEMA = {
    "properties": {
        "attrs": {
            "minProperties": 1, "maxProperties": 3,
            "propertyNames": {"pattern": "^[a-z_]+$", "maxLength": 8},
            "patternProperties": {"^n_": {"minimum": 0}},
            "additionalProperties": {"maximum": 100},
        },
        "strict": {"additionalProperties": False,
                   "patternProperties": {"^ok": True}},
        "seq": {"prefixItems": [{"const": 1.0}, {"minimum": 10}],
                "items": {"maximum": 5}},
    },
}

MAP_ROWS = [
    ({"n_x": 1.0, "other": 50.0}, {"ok1": 1.0}, [1.0, 11.0, 2.0]),  # valid
    ({"n_x": -1.0}, {"ok1": 1.0}, [1.0, 11.0]),      # patternProperties
    ({"other": 101.0}, {"ok1": 1.0}, [1.0, 10.0]),   # additionalProperties
    ({}, {"ok1": 1.0}, [1.0, 10.0]),                  # minProperties
    ({"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0}, {}, [1.0, 10.0]),  # maxProps
    ({"BAD": 1.0}, {"ok1": 1.0}, [1.0, 10.0]),        # propertyNames pattern
    ({"n_x": 1.0}, {"nope": 1.0}, [1.0, 10.0]),       # strict: additional
    ({"n_x": 1.0}, {"ok1": 1.0}, [2.0, 10.0]),        # prefixItems const
    ({"n_x": 1.0}, {"ok1": 1.0}, [1.0, 3.0]),         # prefixItems minimum
    ({"n_x": 1.0}, {"ok1": 1.0}, [1.0, 11.0, 9.0]),   # items past prefix
    (None, None, None),                                 # all missing
]


def test_map_and_prefix_columnar_matches_interpreter(spark):
    df = spark.createDataFrame(
        MAP_ROWS,
        "attrs map<string,double>, strict map<string,double>, "
        "seq array<double>")
    cv = ColumnarValidator(MAP_SCHEMA, format_assertion=True)
    got_col = [r["valid"] for r in cv.apply(df).select("valid").collect()]

    docs = []
    for attrs, strict, seq in MAP_ROWS:
        d = {}
        if attrs is not None:
            d["attrs"] = attrs
        if strict is not None:
            d["strict"] = strict
        if seq is not None:
            d["seq"] = seq
        docs.append(json.dumps(d))
    out = validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        MAP_SCHEMA, format_assertion=True)
    got_interp = [r["valid"] for r in out.select("valid").collect()]

    expected = [True] + [False] * 9 + [True]
    assert got_col == got_interp == expected


def test_tuple_items_draft2019(spark):
    """draft<=2019 tuple form: items as array + additionalItems."""
    schema = {"properties": {"seq": {
        "items": [{"type": "string"}, {"minimum": 5}],
        "additionalItems": {"maximum": 1},
    }}}
    rows = [(["a", 9.0, 0.5],), (["a", 2.0],), ([3.0, 9.0],),
            (["a", 9.0, 2.0],), (["a"],), (None,)]
    # draft2019 tuple items: note heterogenous arrays aren't a Spark
    # type, so model positions over array<double>-compatible... use
    # array<string> cast semantics instead: simplified — numeric-only
    df = spark.createDataFrame(
        [(x,) for (x,) in rows], "seq array<string>")
    cv = ColumnarValidator(schema, draft="draft2019-09",
                           format_assertion=True)
    out = [r["valid"] for r in cv.apply(df).select("valid").collect()]
    # over array<string>: pos0 type string ok; pos1 minimum ignores
    # non-numeric strings... so only additionalItems/size semantics are
    # deterministic here; just assert the plan builds and runs
    assert len(out) == 6

    # numeric tuple over array<double>: positional bound + tail bound
    schema2 = {"properties": {"seq": {
        "items": [{"minimum": 0}, {"minimum": 5}],
        "additionalItems": {"maximum": 1},
    }}}
    df2 = spark.createDataFrame(
        [([0.0, 9.0, 0.5],), ([0.0, 2.0],), ([-1.0, 9.0],),
         ([0.0, 9.0, 2.0],), ([0.0],), (None,)],
        "seq array<double>")
    cv2 = ColumnarValidator(schema2, draft="draft2019-09",
                            format_assertion=True)
    got = [r["valid"] for r in cv2.apply(df2).select("valid").collect()]
    assert got == [True, False, False, False, True, True]

    # additionalItems: false caps the length
    cv3 = ColumnarValidator({"properties": {"seq": {
        "items": [{}], "additionalItems": False}}}, draft="draft2019-09")
    got3 = [r["valid"] for r in cv3.apply(df2).select("valid").collect()]
    assert got3 == [False, False, False, False, True, True]


def test_nested_udf_format_rejected():
    """An asserted format that needs a pandas UDF cannot run inside
    items; an annotated one is a warning, which fails no items verdict,
    so nothing has to run there."""
    schema = {"properties": {"xs": {"items": {"format": "idn-hostname"}}}}
    with pytest.raises(Exception) as ei:
        ColumnarValidator(schema, format_assertion=True)
    assert "pandas-UDF" in str(ei.value)
    assert ColumnarValidator(schema).unsupported == []


def test_boolean_contains_and_items_false_with_prefix(spark):
    """r5 triple-sweep finds: boolean-form contains was ignored and
    items:false forbade the WHOLE array instead of only elements past
    prefixItems.  Interp parity over the same arrays."""
    import json

    from m3spark.sparkval import validate_json

    df = spark.createDataFrame(
        [([],), ([1],), ([1, 2],), (None,)], "v array<int>")
    docs = [json.dumps(d) for d in
            ({"v": []}, {"v": [1]}, {"v": [1, 2]}, {})]
    ddf = spark.createDataFrame([(x,) for x in docs], "doc string")
    for schema, expected in [
        ({"$schema": "https://json-schema.org/draft/2020-12/schema",
          "properties": {"v": {"contains": False}}},
         [False, False, False, True]),
        ({"$schema": "https://json-schema.org/draft/2020-12/schema",
          "properties": {"v": {"contains": True}}},
         [False, True, True, True]),
        ({"$schema": "https://json-schema.org/draft/2020-12/schema",
          "properties": {"v": {"prefixItems": [{"type": "integer"}],
                               "items": False}}},
         [True, True, False, True]),
        ({"$schema": "https://json-schema.org/draft/2020-12/schema",
          "properties": {"v": {"items": False}}},
         [True, False, False, True]),
    ]:
        cv = ColumnarValidator(schema)
        got = [r["valid"] for r in cv.apply(df).collect()]
        interp = [r["valid"] for r in
                  validate_json(ddf, schema).collect()]
        assert got == interp == expected, (schema, got, interp)


def test_items_prefix_offset_is_draft_gated(spark):
    """r6 advice: the prefixItems window offset on `items` applies only
    in 2020-12/next (pre-2020 `prefixItems` is an unknown keyword, so
    `items` covers the whole array — interp c_items gates identically,
    schema/core.py:1334)."""
    import json

    from m3spark.sparkval import validate_json

    df = spark.createDataFrame(
        [([],), (["1"],), (["1", "2"],), (["x", "1"],), (None,)],
        "v array<string>")
    docs = [json.dumps(d) for d in
            ({"v": []}, {"v": ["1"]}, {"v": ["1", "2"]},
             {"v": ["x", "1"]}, {})]
    ddf = spark.createDataFrame([(x,) for x in docs], "doc string")
    body_false = {"prefixItems": [{"type": "string"}], "items": False}
    body_schema = {"prefixItems": [{}],
                   "items": {"pattern": "^[0-9]+$"}}
    for draft, body, expected in [
        # 2020-12: items skips the one-element prefix window
        ("draft2020-12", body_false, [True, True, False, False, True]),
        # 2019-09: prefixItems unknown -> items:false forbids ANY element
        ("draft2019-09", body_false, [True, False, False, False, True]),
        # 2020-12: element 0 exempt from the pattern
        ("draft2020-12", body_schema, [True, True, True, True, True]),
        # 2019-09: pattern applies from element 0
        ("draft2019-09", body_schema, [True, True, True, False, True]),
        # draft-7 spot check matches 2019-09
        ("draft7", body_schema, [True, True, True, False, True]),
    ]:
        schema = {"properties": {"v": dict(body)}}
        cv = ColumnarValidator(schema, draft=draft)
        got = [r["valid"] for r in cv.apply(df).collect()]
        interp = [r["valid"] for r in
                  validate_json(ddf, schema, draft=draft).collect()]
        assert got == interp == expected, (draft, body, got, interp)


def test_draft3_union_type_with_schema_member(spark):
    """draft-3 union `type` may embed schema members: the columnar
    engine must OR the member-schema predicate in (r5 sweep find)."""
    import json

    from m3spark.sparkval import validate_json

    schema = {"properties": {
        "v": {"type": ["string", {"type": "number", "minimum": 3}]}}}
    df = spark.createDataFrame([(4.0,), (2.0,), (None,)], "v double")
    cv = ColumnarValidator(schema, draft="draft3")
    got = [r["valid"] for r in cv.apply(df).collect()]
    docs = [json.dumps(d) for d in ({"v": 4.0}, {"v": 2.0}, {})]
    interp = [r["valid"] for r in validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        schema, draft="draft3").collect()]
    assert got == interp == [True, False, True]


def test_nested_violation_identity_parity(spark):
    """r6: nested checks surface with their OWN identity — keyword,
    schema_path, RFC 6901 doc_path, and the offending LEAF value — and
    the full violation rows match the interpreter's on the same
    documents (north-star row shape)."""
    import json

    from m3spark.sparkval import validate_json
    from m3spark.sparkval import violation_rows as interp_rows

    schema = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "properties": {"o": {
            "type": "object",
            "required": ["name"],
            "properties": {
                "name": {"type": "string", "minLength": 3},
                "inner": {
                    "type": "object",
                    "properties": {"n": {"minimum": 0, "maximum": 9}},
                },
            },
        }},
    }
    rows = [(1, {"name": "abc", "inner": {"n": 5}}),
            (2, {"name": "ab", "inner": {"n": 50}}),
            (3, {"name": None, "inner": None}),
            (4, None)]
    ddl = "id int, o struct<name:string,inner:struct<n:int>>"
    df = spark.createDataFrame(rows, ddl)
    cv = ColumnarValidator(schema)
    got = {(r["id"], r["keyword"], r["doc_path"], r["value"])
           for r in cv.violation_rows(df, key_col="id").collect()}
    docs = [(1, json.dumps({"o": {"name": "abc", "inner": {"n": 5}}})),
            (2, json.dumps({"o": {"name": "ab", "inner": {"n": 50}}})),
            (3, json.dumps({"o": {}})),
            (4, "{}")]
    out = validate_json(spark.createDataFrame(docs, "id int, doc string"),
                        schema)
    want = {(r["id"], r["keyword"], r["doc_path"], r["value"])
            for r in interp_rows(out, key_col="id").collect()}
    assert got == want
    assert (2, "minLength", "/o/name", "ab") in got
    assert (2, "maximum", "/o/inner/n", "50") in got
    # required sits at the OBJECT missing the key (c_required parity),
    # rendered compact-JSON with null fields omitted
    assert (3, "required", "/o", "{}") in got


def test_nested_required_under_absent_column_passes(spark):
    """r6 fix: `required` INSIDE a property whose column is absent from
    the table must pass (the parent property is missing — presence
    semantics); top-level required still fails statically."""
    schema = {
        "properties": {"o": {"type": "object", "required": ["x"]}},
        "required": ["k"],
    }
    df = spark.createDataFrame([(1,)], "other int")
    cv = ColumnarValidator(schema)
    rows = cv.violation_rows(df, key_col="other").collect()
    kws = {(r["keyword"], r["doc_path"]) for r in rows}
    # top-level required fails at the row object (pointer "")
    assert ("required", "") in kws
    # nested required passes: its parent property is missing
    assert not any(p.startswith("/o") for _, p in kws)


def test_nested_doc_path_pointer_escaping(spark):
    """Property names containing '/' or '~' compose RFC 6901-escaped
    doc paths (join_pointer parity with the interpreter)."""
    schema = {
        "properties": {"o": {
            "properties": {"a/b": {"properties": {
                "c~d": {"maximum": 1}}}},
        }},
    }
    df = spark.createDataFrame(
        [({"a/b": {"c~d": 7}},)],
        T.StructType([T.StructField("o", T.StructType([
            T.StructField("a/b", T.StructType([
                T.StructField("c~d", T.IntegerType())]))]))]))
    cv = ColumnarValidator(schema)
    rows = cv.apply(df).selectExpr("inline(violations)").collect()
    assert [r["doc_path"] for r in rows] == ["/o/a~1b/c~0d"]
    assert rows[0]["value"] == "7"


_IPV4 = {"format": "ipv4"}  # a warning: format_assertion is off
_JSON_STR = {"contentMediaType": "application/json",
             "contentSchema": {"type": "string"}}  # 2020-12: warnings


@pytest.mark.parametrize("schema, ddl, values, expected", [
    ({"items": _IPV4}, "array<string>", [["999.0.0.1"], ["1.2.3.4"]],
     [True, True]),
    ({"prefixItems": [_IPV4]}, "array<string>", [["999.0.0.1"]], [True]),
    ({"contains": _IPV4}, "array<string>", [["999.0.0.1"]], [True]),
    ({"anyOf": [_IPV4]}, "string", ["999.0.0.1"], [True]),
    ({"not": _IPV4}, "string", ["999.0.0.1"], [False]),
    ({"if": _IPV4, "then": {"maxLength": 0}}, "string", ["999.0.0.1"],
     [False]),
    ({"anyOf": [_JSON_STR]}, "string", ["1", "x"], [True, True]),
    ({"items": _JSON_STR}, "array<string>", [["1"]], [True]),
], ids=["items", "prefixItems", "contains", "anyOf", "not", "if",
        "anyOf-content", "items-content"])
def test_warnings_fail_no_branch(spark, schema, ddl, values, expected):
    """A subschema whose only failing checks are warnings passes every
    applicator that asks whether it passed, in both engines."""
    cv = ColumnarValidator({"properties": {"v": schema}},
                           format_assertion=False)
    df = spark.createDataFrame(list(enumerate(values)), f"i int, v {ddl}")
    got = [r["valid"] for r in cv.apply(df).orderBy("i").collect()]
    interp = compile_schema(schema, format_assertion=False)
    assert got == [interp.is_valid(v) for v in values] == expected

"""Object keywords in the columnar engine — root-level cross-column
applicators (if/then/else, anyOf/oneOf/not, dependentRequired over table
columns) and the same keywords on struct and map columns — must agree
with the interpreter row-for-row."""

from __future__ import annotations

import json
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3spark.columnar import ColumnarValidator, UnsupportedKeyword
from m3spark.schema.core import (
    D2019, D2020, DRAFT3, DRAFT4, DRAFT6, DRAFT7, compile_schema,
)
from m3spark.sparkval import validate_json, validate_table

SCHEMA = {
    "type": "object",
    "properties": {
        "lang": {"enum": ["en", "zh"]},
        "text": {"type": "string"},
        "score": {"type": "number"},
        "reviewer": {"type": "string"},
    },
    # conditional: zh docs need longer text
    "if": {"properties": {"lang": {"const": "zh"}}, "required": ["lang"]},
    "then": {"properties": {"text": {"minLength": 6}}},
    "else": {"properties": {"text": {"minLength": 2}}},
    # a reviewed row must carry a score
    "dependentRequired": {"reviewer": ["score"]},
    # cross-column alternative: either high score or a reviewer present
    "anyOf": [
        {"properties": {"score": {"minimum": 8}}, "required": ["score"]},
        {"required": ["reviewer"]},
    ],
}

ROWS = [
    ("en", "hello", 9.0, None),        # valid (else-branch, anyOf via score)
    ("zh", "short", 9.0, None),        # then-branch minLength 6 fails
    ("zh", "long enough", 9.0, None),  # valid
    ("en", "h", 9.0, None),            # else-branch minLength 2 fails
    ("en", "hello", 2.0, None),        # anyOf fails (low score, no reviewer)
    ("en", "hello", None, "bob"),      # dependentRequired fails
    ("en", "hello", 3.0, "bob"),       # valid via reviewer
]


def test_cross_column_matches_interpreter(spark):
    df = spark.createDataFrame(
        ROWS, "lang string, text string, score double, reviewer string")
    cv = ColumnarValidator(SCHEMA, format_assertion=True)
    got_col = [r["valid"] for r in cv.apply(df).select("valid").collect()]

    docs = []
    for lang, text, score, reviewer in ROWS:
        d = {k: v for k, v in zip(("lang", "text", "score", "reviewer"),
                                  (lang, text, score, reviewer))
             if v is not None}
        docs.append(json.dumps(d))
    out = validate_json(
        spark.createDataFrame([(x,) for x in docs], "doc string"),
        SCHEMA, format_assertion=True)
    got_interp = [r["valid"] for r in out.select("valid").collect()]

    expected = [True, False, True, False, False, False, True]
    assert got_col == got_interp == expected


def test_root_allof_flattens(spark):
    df = spark.createDataFrame([(5,), (15,), (None,)], "x int")
    cv = ColumnarValidator({
        "allOf": [{"properties": {"x": {"minimum": 1}}},
                  {"properties": {"x": {"maximum": 10}}}]})
    rows = cv.apply(df).collect()
    assert [r["valid"] for r in rows] == [True, False, True]
    (bad,) = [r for r in rows if not r["valid"]]
    assert bad["violations"][0]["schema_path"] == \
        "/allOf/1/properties/x/maximum"


@pytest.mark.parametrize("branches", [
    [False], [True, False], [{"required": ["x"]}, False]])
def test_root_allof_false_branch(spark, branches):
    """A `false` branch of a root `allOf` fails every row, with the
    interpreter's (keyword, schema path, doc path)."""
    schema = {"allOf": branches}
    df = spark.createDataFrame([(5,)], "x int")
    (r,) = ColumnarValidator(schema).apply(df).collect()
    want = compile_schema(schema).validate({"x": 5})
    assert r["valid"] is want.valid is False
    assert [(v["keyword"], v["schema_path"], v["doc_path"])
            for v in r["violations"]] == \
        [(e.keyword, e.schema_path, e.doc_path) for e in want.errors]


def test_root_oneof_and_not(spark):
    df = spark.createDataFrame(
        [(1, None), (None, "y"), (1, "y"), (None, None)],
        "a int, b string")
    cv = ColumnarValidator({
        "oneOf": [{"required": ["a"]}, {"required": ["b"]}],
        "not": {"required": ["a", "b"]}})
    got = [r["valid"] for r in cv.apply(df).collect()]
    # one of a/b present: ok; both: oneOf+not fail; neither: oneOf fails
    assert got == [True, True, False, False]


def test_root_dependencies_draft7_parity(spark):
    """Pre-2019 `dependencies` at root: array form (required keys) and
    schema form, columnar vs interp; ignored as unknown in 2019+."""
    D7 = "http://json-schema.org/draft-07/schema#"
    D20 = "https://json-schema.org/draft/2020-12/schema"
    schema = {"$schema": D7,
              "dependencies": {
                  "a": ["b"],
                  "c": {"properties": {"b": {"minLength": 2}},
                        "required": ["b"]}}}
    cv = ColumnarValidator(schema)
    docs = [
        (None, None, None), ("x", None, None), ("x", "yy", None),
        (None, None, "z"), (None, "yy", "z"), (None, "y", "z"),
        ("x", "yy", "z"),
    ]
    df = spark.createDataFrame(docs, "a string, b string, c string")
    got = cv.apply(df).collect()
    cs = compile_schema(schema)
    for (a, b, c), r in zip(docs, got):
        doc = {k: v for k, v in (("a", a), ("b", b), ("c", c))
               if v is not None}
        assert bool(r["valid"]) == cs.validate(doc).valid, (doc, r)

    # 2019+: dependencies is an unknown annotation in both engines
    schema20 = dict(schema, **{"$schema": D20})
    cv20 = ColumnarValidator(schema20)
    cs20 = compile_schema(schema20)
    r = cv20.apply(spark.createDataFrame([("x", None, None)],
                                         "a string, b string, c string")
                   ).collect()[0]
    assert bool(r["valid"]) and cs20.validate({"a": "x"}).valid


# -- object keywords: one grid over drafts and object positions ------------
# Each keyword schema constrains an object over the keys "a" and "b"; the
# object is the table row, a struct column, a map column or a VARIANT
# column.  Columnar
# `valid` must equal the interpreter's verdict in every draft, including
# the drafts whose keyword table lacks the keyword (it is then ignored).

_LE5 = {"maximum": 5}
OBJECT_KEYWORDS = {
    "allOf": {"allOf": [{"properties": {"a": _LE5}}]},
    "anyOf": {"anyOf": [{"properties": {"a": _LE5}},
                        {"properties": {"b": _LE5}}]},
    "oneOf": {"oneOf": [{"properties": {"a": _LE5}},
                        {"properties": {"b": _LE5}}]},
    "not": {"not": {"properties": {"a": _LE5}}},
    "if": {"if": {"properties": {"a": _LE5}},
           "then": {"properties": {"b": _LE5}}},
    "dependentRequired": {"dependentRequired": {"a": ["b"]}},
    "dependentSchemas": {"dependentSchemas": {
        "a": {"properties": {"b": _LE5}}}},
    "dependencies": {"dependencies": {
        "a": ["b"], "b": {"properties": {"a": _LE5}}}},
    "minProperties": {"minProperties": 2},
    "maxProperties": {"maxProperties": 1},
    "propertyNames": {"propertyNames": {"pattern": "^a"}},
    "additionalProperties": {"properties": {"a": {}},
                             "additionalProperties": False},
    "required": {"required": ["a"]},
    "properties": {"properties": {"a": _LE5}},
    "type_array": {"type": "array"},
    "type_null": {"type": "null"},
    # keys no draft defines, and annotations, are ignored by both engines
    "unknown": {"x-note": 1, "$anchor": "n", "$comment": "c",
                "properties": {"a": {"maximum": 5, "x-unit": "s"}}},
}
DRAFTS = [DRAFT3, DRAFT4, DRAFT6, DRAFT7, D2019, D2020]
POSITIONS = {  # position -> (wrap the keyword schema, table DDL)
    "row": (lambda s: s, "a long, b long"),
    "struct": (lambda s: {"properties": {"o": s}},
               "o struct<a: long, b: long>"),
    "map": (lambda s: {"properties": {"o": s}}, "o map<string, long>"),
    # the map column's objects as parse_json(to_json(o))
    "variant": (lambda s: {"properties": {"o": s}}, "o map<string, long>"),
}
OBJECTS = [{}, {"a": 1}, {"a": 9}, {"b": 1}, {"b": 9}, {"a": 1, "b": 1},
           {"a": 9, "b": 9}, {"a": 1, "b": 9}, {"a": 9, "b": 1}]


def _rows(position):
    if position == "row":
        return [(o.get("a"), o.get("b")) for o in OBJECTS]
    if position == "struct":
        return [((o.get("a"), o.get("b")),) for o in OBJECTS]
    return [(o,) for o in OBJECTS]


def _table(spark, position):
    df = spark.createDataFrame(_rows(position), POSITIONS[position][1])
    if position == "variant":
        df = df.select(F.parse_json(F.to_json("o")).alias("o"))
    return df


def _key(position, r):
    """Identifies an object of OBJECTS in a collected row."""
    if position == "row":
        return (r["a"], r["b"])
    if position == "struct":
        return tuple(r["o"])
    if position == "variant" and not isinstance(r["o"], dict):
        return frozenset(json.loads(r["o"].toJson()).items())
    return frozenset(r["o"].items())


@pytest.fixture(scope="module")
def object_verdicts(spark):
    """position -> {(keyword, draft): [columnar valid per object]}, one
    Spark job per position over a cached table.  Each validator runs on
    the bare table: an output column of another would be one more row
    field."""
    memo = {}

    def get(position):
        if position not in memo:
            wrap, _ = POSITIONS[position]
            df = _table(spark, position).cache()
            cells = [(kw, d) for kw in OBJECT_KEYWORDS for d in DRAFTS]
            parts = [ColumnarValidator(wrap(OBJECT_KEYWORDS[kw]), draft=d)
                     .apply(df)
                     .select(F.lit(i).alias("cell"), *df.columns, "valid")
                     for i, (kw, d) in enumerate(cells)]
            got = {(r["cell"], _key(position, r)): r["valid"]
                   for r in reduce(DataFrame.unionAll, parts).collect()}
            df.unpersist()
            keys = [_key(position, dict(zip(df.columns, row)))
                    for row in _rows(position)]
            memo[position] = {cell: [got[i, k] for k in keys]
                              for i, cell in enumerate(cells)}
        return memo[position]
    return get


@pytest.mark.parametrize("position", list(POSITIONS))
@pytest.mark.parametrize("draft", DRAFTS)
@pytest.mark.parametrize("keyword", list(OBJECT_KEYWORDS))
def test_object_keyword_parity(object_verdicts, keyword, draft, position):
    wrap, _ = POSITIONS[position]
    cs = compile_schema(wrap(OBJECT_KEYWORDS[keyword]), draft=draft)
    want = [cs.validate(o if position == "row" else {"o": o}).valid
            for o in OBJECTS]
    got = object_verdicts(position)[keyword, draft]
    assert got == want, list(zip(OBJECTS, got, want))


def test_property_not_true_fails_present_values(spark):
    schema = {"properties": {"o": {"not": True}}}
    df = spark.createDataFrame([(1,), (None,)], "o long")
    got = [r["valid"] for r in ColumnarValidator(schema).apply(df).collect()]
    cs = compile_schema(schema)
    assert got == [cs.validate({"o": 1}).valid, cs.validate({}).valid] \
        == [False, True]


def test_flattened_allof_renders_the_leaf_value(spark):
    """A nested check flattened out of `allOf` renders the offending leaf,
    as the interpreter does, not the whole struct."""
    schema = {"properties": {"o": {"allOf": [
        {"properties": {"x": {"maximum": 1}}}]}}}
    df = spark.createDataFrame([((5, "q"),)], "o struct<x: long, q: string>")
    (viol,) = ColumnarValidator(schema).apply(df).collect()[0]["violations"]
    (want,) = compile_schema(schema).validate({"o": {"x": 5, "q": "q"}}).errors
    assert (viol["keyword"], viol["doc_path"], viol["value"]) \
        == (want.keyword, want.doc_path, want.value) == ("maximum", "/o/x", "5")


# mixed JSON kinds in one VARIANT column (SQL NULL = a missing "o")
VARIANT_VALUES = ['{"a": 1}', '[1]', '"s"', '3', '3.0', 'null', None]
VARIANT_SCHEMAS = [
    {"properties": {"o": {"type": "object"}}},
    {"properties": {"o": {"type": "string"}}},
    {"properties": {"o": {"type": "integer"}}},
    {"properties": {"o": {"type": "null"}}},
    {"properties": {"o": {"required": ["a"]}}},
    {"required": ["o"]},
    {"properties": {"o": {"minimum": 3}}},
    {"properties": {"o": {"minimum": 4}}},
]


def test_variant_column_matches_interpreter(spark):
    """Each value of a VARIANT column is checked as the JSON value it
    holds: `type`, `required` and `minimum` verdicts equal the
    interpreter's on {"o": value}, JSON null included."""
    df = spark.createDataFrame(list(enumerate(VARIANT_VALUES)),
                               "i int, j string") \
        .select("i", F.parse_json("j").alias("o"))
    docs = [{} if v is None else {"o": json.loads(v)}
            for v in VARIANT_VALUES]
    for schema in VARIANT_SCHEMAS:
        rows = ColumnarValidator(schema).apply(df).select("i", "valid")
        got = [r["valid"] for r in sorted(rows.collect())]
        cs = compile_schema(schema)
        assert got == [cs.validate(d).valid for d in docs], schema


@pytest.mark.parametrize("position", list(POSITIONS))
def test_draft3_property_required_true(spark, position):
    """Draft 3 spells `required` inside the property schema; it is a
    `required` check at `.../properties/a`, as in the interpreter."""
    wrap, _ = POSITIONS[position]
    schema = wrap({"properties": {"a": {"required": True}}})
    cv = ColumnarValidator(schema, draft=DRAFT3)
    df = _table(spark, position)
    got = {_key(position, r): [(v["keyword"], v["schema_path"])
                               for v in r["violations"]]
           for r in cv.apply(df).collect()}
    cs = compile_schema(schema, draft=DRAFT3)
    for o, raw in zip(OBJECTS, _rows(position)):
        want = cs.validate(o if position == "row" else {"o": o}).errors
        assert got[_key(position, dict(zip(df.columns, raw)))] == \
            [(v.keyword, v.schema_path) for v in want], o
    assert any(got.values())


def test_empty_property_name_is_a_column(spark):
    """A property named "" is a column like any other, not the row."""
    schema = {"properties": {"": {"type": "string", "minLength": 2}}}
    cv = ColumnarValidator(schema)
    assert [c.column for c in cv.checks] == ["", ""]
    df = spark.range(1).select(F.lit("x").alias(""), F.lit(1).alias("a"))
    (r,) = cv.apply(df).collect()
    (want,) = compile_schema(schema).validate({"": "x", "a": 1}).errors
    assert [(v["keyword"], v["doc_path"], v["value"])
            for v in r["violations"]] == \
        [(want.keyword, want.doc_path, want.value)] == \
        [("minLength", "/", "x")]


@pytest.mark.parametrize("position", ["row", "struct", "map", "variant"])
def test_false_property_schema_rejects_present_key(spark, position):
    """`properties: {"a": false}` on the row or inside an object column
    rejects an object that has "a", as the interpreter does."""
    wrap, _ = POSITIONS[position]
    schema = wrap({"properties": {"a": False}})
    df = _table(spark, position)
    got = {_key(position, r): r["valid"]
           for r in ColumnarValidator(schema).apply(df).collect()}
    cs = compile_schema(schema)
    assert [got[_key(position, dict(zip(df.columns, raw)))]
            for raw in _rows(position)] == \
        [cs.validate(o if position == "row" else {"o": o}).valid
         for o in OBJECTS]


@pytest.mark.parametrize("keyword", ["const", "enum"])
def test_object_literal_equality_uses_interpreter(spark, keyword):
    """An `enum`/`const` literal holding a JSON object has no SQL equality
    over a struct, a map or the row: ``apply`` raises
    ``UnsupportedKeyword``, and ``validate_table`` answers with the
    interpreter at each position."""
    lit = {"a": "p", "b": "x"}
    sub = {keyword: lit if keyword == "const" else [lit, 3]}
    tables = {
        "struct": ("s struct<a: string, b: string>",
                   [(("p", "x"),), (("q", "x"),)], {"properties": {"s": sub}}),
        "map": ("s map<string, string>", [({"a": "p", "b": "x"},),
                                          ({"b": "x"},)],
                {"properties": {"s": sub}}),
        "row": ("a string, b string", [("p", "x"), ("q", "x")], sub),
    }
    for position, (ddl, rows, schema) in tables.items():
        df = spark.createDataFrame(rows, ddl)
        with pytest.raises(UnsupportedKeyword, match="object literal"):
            ColumnarValidator(schema).apply(df)
        cs = compile_schema(schema)
        docs = [json.loads(r[0]) for r in
                df.select(F.to_json(F.struct(*df.columns))).collect()]
        want = [cs.validate(d).valid for d in docs]
        got = [r["valid"] for r in validate_table(df, schema).collect()]
        assert got == want == [True, False], position

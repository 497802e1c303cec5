"""Columnar content keywords (§2.9): contentEncoding / contentMediaType /
contentSchema lowered to pure JVM expressions (rlike + is_valid_utf8 +
unbase64 + try_parse_json + variant predicates) must agree with the
Arrow interpreter (core.py c_content, reference property.cljc:743-810)
on verdicts, keywords, schema paths, and levels for every payload."""

from __future__ import annotations

import base64
import json

import pytest
from pyspark.sql import types as T

from m3spark.columnar import ColumnarValidator, UnsupportedKeyword
from m3spark.schema.core import compile_schema

D2019 = "https://json-schema.org/draft/2019-09/schema"
D7 = "http://json-schema.org/draft-07/schema#"


def b64(obj) -> str:
    s = obj if isinstance(obj, str) else json.dumps(obj)
    return base64.b64encode(s.encode()).decode()


CONTENT_SCHEMA = {
    "type": "object",
    "required": ["name", "port"],
    "properties": {
        "name": {"type": "string", "minLength": 2, "maxLength": 10,
                 "pattern": "^[a-z]+$"},
        "port": {"type": "integer", "minimum": 1, "maximum": 65535},
        "mode": {"enum": ["tcp", "udp", 6, None]},
        "ok": {"const": True},
    },
}

PAYLOADS = [
    # (payload string, note)
    (b64({"name": "web", "port": 80}), "valid doc"),
    (b64({"name": "web", "port": 80, "mode": "tcp", "ok": True}), "all ok"),
    (b64({"name": "x", "port": 80}), "name too short"),
    (b64({"name": "toolongtoolong", "port": 80}), "name too long"),
    (b64({"name": "Web", "port": 80}), "pattern fail"),
    (b64({"name": "web"}), "missing required port"),
    (b64({"name": "web", "port": None}), "explicit-null port (present)"),
    (b64({"name": "web", "port": 0}), "port below minimum"),
    (b64({"name": "web", "port": 99999}), "port above maximum"),
    (b64({"name": "web", "port": 80.0}), "float-integral port"),
    (b64({"name": "web", "port": 80.5}), "fractional port"),
    (b64({"name": "web", "port": "80"}), "string port"),
    (b64({"name": 7, "port": 80}), "non-string name"),
    (b64({"name": "web", "port": 80, "mode": "sctp"}), "enum miss"),
    (b64({"name": "web", "port": 80, "mode": 6}), "enum int hit"),
    (b64({"name": "web", "port": 80, "mode": 6.0}), "enum 6.0 == 6"),
    (b64({"name": "web", "port": 80, "mode": None}), "enum null hit"),
    (b64({"name": "web", "port": 80, "mode": True}), "enum true != 6"),
    (b64({"name": "web", "port": 80, "ok": False}), "const miss"),
    (b64({"name": "web", "port": 80, "ok": 1}), "const 1 != true"),
    (b64([1, 2, 3]), "array not object (type fails, required passes)"),
    (b64("plain"), "json string not object"),
    (b64("3"), "json integer not object"),
    (b64("not json {{{"), "valid b64, invalid json"),
    ("!!!not-base64!!!", "invalid base64"),
    ("aGVsbG8", "missing padding rejects (validate=True parity)"),
    ("/w==", "valid b64, invalid utf-8"),
    ("", "empty string: valid b64 of b'' -> invalid json"),
    ("NaN".encode().hex() and b64("NaN"), "NaN rejected (strict JSON)"),
    (None, "SQL null passes everything"),
]


def _interp_expected(payload, draft, schema):
    cs = compile_schema({"$schema": draft,
                         "properties": {"payload": schema}})
    res = cs.validate({"payload": payload} if payload is not None else {})
    viol = [(v.keyword, v.schema_path, v.level)
            for v in res.errors + res.warnings]
    return res.valid, sorted(viol)


@pytest.mark.parametrize("draft", [D7, D2019])
def test_content_parity(spark, draft):
    sub = {"type": "string", "contentEncoding": "base64",
           "contentMediaType": "application/json"}
    if draft == D2019:
        sub["contentSchema"] = CONTENT_SCHEMA
    schema = {"$schema": draft, "properties": {"payload": sub}}
    cv = ColumnarValidator(schema)
    df = spark.createDataFrame(
        [(i, p) for i, (p, _) in enumerate(PAYLOADS)],
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("payload", T.StringType())]))
    rows = {r["i"]: r for r in cv.apply(df).collect()}
    mismatches = []
    for i, (payload, note) in enumerate(PAYLOADS):
        exp_valid, exp_viol = _interp_expected(payload, draft, sub)
        r = rows[i]
        got_viol = sorted((v["keyword"], v["schema_path"], v["level"])
                          for v in r["violations"])
        if bool(r["valid"]) != exp_valid or got_viol != exp_viol:
            mismatches.append(
                f"{note!r}: columnar valid={r['valid']} viol={got_viol} "
                f"interp valid={exp_valid} viol={exp_viol}")
    assert not mismatches, "\n".join(mismatches)


def test_d7_errors_2019_warnings(spark):
    """draft-07 content violations are errors; 2019-09 downgrades to
    warnings (so rows stay valid) — reference semantics."""
    sub = {"contentEncoding": "base64"}
    df = spark.createDataFrame([("!!!",)], ["payload"])
    for draft, expect_valid, level in ((D7, False, "error"),
                                       (D2019, True, "warning")):
        cv = ColumnarValidator(
            {"$schema": draft, "properties": {"payload": sub}})
        r = cv.apply(df).collect()[0]
        assert bool(r["valid"]) is expect_valid
        assert [v["level"] for v in r["violations"]] == [level]


def test_media_type_without_encoding(spark):
    """contentMediaType alone validates the RAW string as content and
    registers under /contentMediaType (interp c_content_media_type)."""
    cv = ColumnarValidator(
        {"$schema": D7,
         "properties": {"payload": {"contentMediaType":
                                    "application/json"}}})
    df = spark.createDataFrame([('{"a":1}',), ("nope",)], ["payload"])
    rows = sorted(cv.apply(df).collect(), key=lambda r: r["payload"])
    ok = {r["payload"]: bool(r["valid"]) for r in rows}
    assert ok == {'{"a":1}': True, "nope": False}
    bad = [r for r in rows if not r["valid"]][0]
    assert bad["violations"][0]["schema_path"] == \
        "/properties/payload/contentMediaType"


def test_encoding_failure_suppresses_downstream(spark):
    """Invalid base64 yields ONLY the contentEncoding violation — the
    interp returns early; media/schema checks must not double-fire."""
    cv = ColumnarValidator(
        {"$schema": D2019,
         "properties": {"payload": {
             "contentEncoding": "base64",
             "contentMediaType": "application/json",
             "contentSchema": {"type": "object"}}}})
    df = spark.createDataFrame([("!!!",)], ["payload"])
    r = cv.apply(df).collect()[0]
    assert [v["keyword"] for v in r["violations"]] == ["contentEncoding"]


def test_content_schema_false(spark):
    cv = ColumnarValidator(
        {"$schema": D2019,
         "properties": {"payload": {
             "contentEncoding": "base64",
             "contentMediaType": "application/json",
             "contentSchema": False}}})
    df = spark.createDataFrame([(b64({"a": 1}),), ("!!!",)], ["payload"])
    rows = {r["payload"]: r for r in cv.apply(df).collect()}
    kws = [v["keyword"] for v in rows[b64({"a": 1})]["violations"]]
    assert kws == ["false"]
    assert all(v["level"] == "warning"
               for v in rows[b64({"a": 1})]["violations"])


def test_unsupported_content_schema_routes_to_interp():
    # nested properties/items are columnar-lowerable since r4 and
    # combinators since r6; keywords outside the variant subset (e.g.
    # uniqueItems) still route to the interp
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(
            {"$schema": D2019,
             "properties": {"payload": {
                 "contentEncoding": "base64",
                 "contentMediaType": "application/json",
                 "contentSchema": {"uniqueItems": True}}}})


def test_old_drafts_ignore_content(spark):
    """draft-06 has no content keywords: both engines treat them as
    unknown annotations (no violations)."""
    cv = ColumnarValidator(
        {"$schema": "http://json-schema.org/draft-06/schema#",
         "properties": {"payload": {"contentEncoding": "base64"}}})
    df = spark.createDataFrame([("!!!",)], ["payload"])
    assert bool(cv.apply(df).collect()[0]["valid"])


def test_content_plan_is_jvm_only(spark):
    """The content lowering must add zero Python stages (the §2.9 'done'
    bar): no BatchEvalPython / ArrowEval in the physical plan."""
    cv = ColumnarValidator(
        {"$schema": D2019,
         "properties": {"payload": {
             "contentEncoding": "base64",
             "contentMediaType": "application/json",
             "contentSchema": CONTENT_SCHEMA}}})
    df = spark.createDataFrame([(b64({"name": "web", "port": 80}),)],
                               ["payload"])
    plan = cv.apply(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


@pytest.mark.parametrize("with_enc", [False, True])
def test_content_schema_without_media_type(spark, with_enc):
    """contentSchema with NO contentMediaType still validates, assuming
    JSON content (reference property.cljc:796-801: nil cmt =>
    json-decode); decode failure is a contentSchema warning.  Parity
    between both engines, with and without contentEncoding."""
    sub = {"contentSchema": {"type": "object",
                             "required": ["name"],
                             "properties": {"name": {"type": "string"}}}}
    if with_enc:
        sub["contentEncoding"] = "base64"

    def enc(s):
        return b64(s) if with_enc else s

    payloads = [
        (enc('{"name": "web"}'), True, []),
        (enc('{"name": 7}'), True, ["type"]),        # warning only
        (enc('{"port": 80}'), True, ["required"]),
        (enc('not json {{{'), True, ["contentSchema"]),
    ]
    schema = {"$schema": D2019, "properties": {"payload": sub}}
    cv = ColumnarValidator(schema)
    df = spark.createDataFrame(
        [(i, p) for i, (p, _, _) in enumerate(payloads)],
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("payload", T.StringType())]))
    rows = {r["i"]: r for r in cv.apply(df).collect()}
    cs = compile_schema(schema)
    for i, (p, exp_valid, exp_kws) in enumerate(payloads):
        r = rows[i]
        got = sorted(v["keyword"] for v in r["violations"])
        assert bool(r["valid"]) is exp_valid, (p, r)
        assert got == sorted(exp_kws), (p, got, exp_kws)
        assert all(v["level"] == "warning" for v in r["violations"])
        # interp parity
        res = cs.validate({"payload": p})
        ikws = sorted(v.keyword for v in res.errors + res.warnings)
        assert res.valid is exp_valid and ikws == got, (p, ikws, got)


def test_content_schema_alone_ignored_in_d7(spark):
    """draft-07 predates contentSchema: alone it is an unknown
    annotation in both engines."""
    schema = {"$schema": D7,
              "properties": {"payload": {"contentSchema":
                                         {"type": "object"}}}}
    cv = ColumnarValidator(schema)
    df = spark.createDataFrame([("nope",)], ["payload"])
    assert bool(cv.apply(df).collect()[0]["valid"])
    assert compile_schema(schema).validate({"payload": "nope"}).valid


DEEP_CONTENT_SCHEMA = {
    "type": "object",
    "required": ["name", "cfg"],
    "properties": {
        "name": {"type": "string", "minLength": 2},
        "cfg": {
            "type": "object",
            "required": ["port"],
            "properties": {
                "port": {"type": "integer", "minimum": 1,
                         "maximum": 65535},
                "host": {"type": "string",
                         "pattern": "^[a-z.]+$"},
                "nest": {"type": "object",
                         "properties": {"deep": {"const": True}}},
            },
        },
        "tags": {
            "type": "array", "minItems": 1, "maxItems": 4,
            "items": {"type": "string", "minLength": 2,
                      "enum": ["web", "api", "db", 7, None]},
        },
        "ports": {"items": {"type": "integer", "minimum": 1024}},
    },
}

DEEP_PAYLOADS = [
    {"name": "web", "cfg": {"port": 80}},
    {"name": "web", "cfg": {"port": 80, "host": "a.example"}},
    {"name": "web", "cfg": {"port": 80, "host": "BAD"}},
    {"name": "web", "cfg": {"port": 0}},
    {"name": "web", "cfg": {"port": "80"}},
    {"name": "web", "cfg": {}},
    {"name": "web", "cfg": 5},
    {"name": "web", "cfg": {"port": 80, "nest": {"deep": True}}},
    {"name": "web", "cfg": {"port": 80, "nest": {"deep": 1}}},
    {"name": "web", "cfg": {"port": 80, "nest": []}},
    {"name": "web", "cfg": {"port": 80}, "tags": ["web", "db"]},
    {"name": "web", "cfg": {"port": 80}, "tags": ["web", "x"]},
    {"name": "web", "cfg": {"port": 80}, "tags": []},
    {"name": "web", "cfg": {"port": 80}, "tags": ["web", 7]},
    {"name": "web", "cfg": {"port": 80}, "tags": ["a", "b", "c", "d",
                                                  "e"]},
    {"name": "web", "cfg": {"port": 80}, "tags": "web"},
    {"name": "web", "cfg": {"port": 80}, "ports": [8080, 9090]},
    {"name": "web", "cfg": {"port": 80}, "ports": [80]},
    {"name": "web", "cfg": {"port": 80}, "ports": [8080, "x"]},
    {"name": "web", "cfg": {"port": 80}, "ports": 5},
    {"cfg": {"port": 80}},
    {"name": "w", "cfg": {"port": 80}},
]


@pytest.mark.parametrize("draft", [D2019])
def test_deep_content_schema_parity(spark, draft):
    """Nested objects (variant paths) + arrays (array<variant> forall)
    inside contentSchema: columnar verdicts/keywords/paths/levels match
    the interpreter on every payload."""
    sub = {"type": "string", "contentEncoding": "base64",
           "contentMediaType": "application/json",
           "contentSchema": DEEP_CONTENT_SCHEMA}
    schema = {"$schema": draft, "properties": {"payload": sub}}
    cv = ColumnarValidator(schema)
    payloads = [b64(p) for p in DEEP_PAYLOADS]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("payload", T.StringType())]))
    rows = {r["i"]: r for r in cv.apply(df).collect()}
    mismatches = []
    for i, p in enumerate(payloads):
        exp_valid, exp_viol = _interp_expected(p, draft, sub)
        # DEDUPLICATED triples: the interp emits one violation per
        # failing array ELEMENT, the columnar engine one per check
        # (forall collapses) — same keywords/paths/levels, different
        # multiplicity, the established columnar granularity
        exp_viol = sorted(set(exp_viol))
        r = rows[i]
        got = sorted({(v["keyword"], v["schema_path"], v["level"])
                      for v in r["violations"]})
        if bool(r["valid"]) != exp_valid or got != exp_viol:
            mismatches.append(
                f"{DEEP_PAYLOADS[i]}: columnar valid={r['valid']} "
                f"viol={got}\n  interp valid={exp_valid} "
                f"viol={exp_viol}")
    assert not mismatches, "\n".join(mismatches)


def test_deep_content_plan_is_jvm_only(spark):
    cv = ColumnarValidator(
        {"$schema": D2019,
         "properties": {"payload": {
             "contentEncoding": "base64",
             "contentMediaType": "application/json",
             "contentSchema": DEEP_CONTENT_SCHEMA}}})
    df = spark.createDataFrame(
        [(b64({"name": "web", "cfg": {"port": 80}}),)], ["payload"])
    plan = cv.apply(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


COMBINATOR_CONTENT_SCHEMA = {
    "allOf": [
        {"properties": {"name": {"type": "string", "minLength": 2}}},
        {"required": ["name"]},
    ],
    "anyOf": [
        {"properties": {"port": {"type": "integer", "minimum": 1}},
         "required": ["port"]},
        {"properties": {"sock": {"type": "string"}}, "required": ["sock"]},
    ],
    "oneOf": [
        {"properties": {"mode": {"const": "tcp"}}, "required": ["mode"]},
        {"properties": {"port": {"maximum": 1023}}},
    ],
    "not": {"properties": {"name": {"const": "forbidden"}},
            "required": ["name"]},
    "if": {"properties": {"mode": {"const": "udp"}}, "required": ["mode"]},
    "then": {"properties": {"port": {"minimum": 1024}}},
    "else": {"properties": {"port": {"maximum": 60000}}},
}

COMBINATOR_PAYLOADS = [
    b64({"name": "web", "port": 80}),          # all pass (oneOf: 2nd only)
    b64({"name": "w", "port": 80}),            # allOf minLength fail
    b64({"port": 80}),                         # allOf required fail
    b64({"name": "web"}),                      # anyOf: no branch
    b64({"name": "web", "sock": "/tmp/s", "port": 80}),  # anyOf 2nd
    b64({"name": "web", "port": 2000}),        # oneOf: 0 branches match
    b64({"name": "web", "port": 80, "mode": "tcp"}),     # oneOf: both -> fail
    b64({"name": "forbidden", "port": 80}),    # not fails
    b64({"name": "web", "port": 80, "mode": "udp"}),     # then: port<1024 fail
    b64({"name": "web", "port": 70000, "mode": "x"}),    # else: port>60000 + oneOf
    b64({"name": "web", "port": 500, "mode": "udp"}),    # then fail + oneOf ok
    b64([1, 2]),                               # array: object keywords pass,
                                               # anyOf fails (required)
    None,
]


def test_content_combinators_parity(spark):
    """r6: allOf/anyOf/oneOf/not/if-then-else INSIDE contentSchema lower
    columnar (reference composes applicators freely under content,
    property.cljc:788-810) — verdict, keyword, schema-path, and level
    parity with the interpreter on every payload."""
    sub = {"type": "string", "contentEncoding": "base64",
           "contentMediaType": "application/json",
           "contentSchema": COMBINATOR_CONTENT_SCHEMA}
    schema = {"$schema": D2019, "properties": {"payload": sub}}
    cv = ColumnarValidator(schema)
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(COMBINATOR_PAYLOADS)],
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("payload", T.StringType())]))
    rows = {r["i"]: r for r in cv.apply(df).collect()}
    mismatches = []
    for i, payload in enumerate(COMBINATOR_PAYLOADS):
        exp_valid, exp_viol = _interp_expected(payload, D2019, sub)
        r = rows[i]
        got_viol = sorted((v["keyword"], v["schema_path"], v["level"])
                          for v in r["violations"])
        if bool(r["valid"]) != exp_valid or got_viol != exp_viol:
            mismatches.append(
                f"payload {i}: columnar valid={r['valid']} "
                f"viol={got_viol} interp valid={exp_valid} "
                f"viol={exp_viol}")
    assert not mismatches, "\n".join(mismatches)


def test_content_ref_into_defs_lowers(spark):
    """$ref inside contentSchema resolves through the root-level inline
    pre-pass (the fragment's pointers address the ROOT schema) and the
    expanded applicators lower columnar, 0 Python."""
    schema = {
        "$schema": D2019,
        "$defs": {"svc": {"properties": {
            "port": {"type": "integer", "minimum": 1}},
            "required": ["port"]}},
        "properties": {"payload": {
            "type": "string", "contentEncoding": "base64",
            "contentMediaType": "application/json",
            "contentSchema": {"allOf": [{"$ref": "#/$defs/svc"}]},
        }},
    }
    cv = ColumnarValidator(schema)
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    df = spark.createDataFrame(
        [(b64({"port": 8080}),), (b64({"port": 0}),), (b64({}),)],
        ["payload"])
    rows = cv.apply(df).collect()
    # 2019-09: content violations are warnings, rows stay valid
    kws = [sorted(v["keyword"] for v in r["violations"]) for r in rows]
    assert kws == [[], ["minimum"], ["required"]]


def test_content_unresolvable_ref_still_routes_to_interp():
    """A contentSchema $ref the inliner cannot expand (external) keeps
    the standing interp escape hatch."""
    schema = {
        "$schema": D2019,
        "properties": {"payload": {
            "contentEncoding": "base64",
            "contentMediaType": "application/json",
            "contentSchema": {"$ref": "https://example.com/x.json"},
        }},
    }
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema)


OBJECT_CONTENT_SCHEMA = {
    "type": "object",
    "minProperties": 2,
    "properties": {
        "a-b": {"type": "integer", "exclusiveMinimum": 0, "multipleOf": 5},
        "tags": {"type": "array",
                 "contains": {"type": "string", "minLength": 3}},
    },
    "patternProperties": {"^x-": {"type": "number", "maximum": 10}},
    "additionalProperties": {"type": "boolean"},
    "dependentRequired": {"a-b": ["tags"]},
}

OBJECT_CONTENT_PAYLOADS = [
    {"a-b": 5, "tags": ["abc"]},
    {"a-b": 5},                                # dependentRequired
    {"tags": ["abc"]},                         # minProperties
    {"a-b": 0, "tags": ["abc"]},               # exclusiveMinimum
    {"a-b": 7, "tags": ["abc"]},               # multipleOf
    {"a-b": 10.0, "tags": ["abc"]},            # 10.0 is a multiple of 5
    {"a-b": "5", "tags": ["abc"]},             # type only
    {"a-b": 5, "tags": ["ab", 3]},             # contains: no match
    {"a-b": 5, "tags": "abc"},                 # type only
    {"x-1": 3, "x-2": 11, "tags": []},         # maximum, contains
    {"x-1": "s", "tags": ["abcd"]},            # pattern value type
    {"y": True, "z": False},                   # additional: booleans
    {"y": 1, "z": None, "tags": ["abc"]},      # additional: two types
    {"x-1": 1, "a-b": 5, "tags": ["abc"], "n": None},
    [1, 2],                                    # not an object
    '"text"',
]


def test_object_content_schema_parity(spark):
    """Object keywords, a non-identifier key and number keywords inside
    contentSchema compile through the typed builders over the decoded
    VARIANT: verdict, keyword, schema path and level match the
    interpreter (each distinct triple: a map value check fires once for
    the column, the interpreter once per failing value)."""
    sub = {"type": "string", "contentEncoding": "base64",
           "contentMediaType": "application/json",
           "contentSchema": OBJECT_CONTENT_SCHEMA}
    cv = ColumnarValidator({"$schema": D2019, "properties": {"payload": sub}})
    assert all(getattr(c.build, "_jvm", True) for c in cv.checks)
    payloads = [b64(p) for p in OBJECT_CONTENT_PAYLOADS]
    df = spark.createDataFrame(
        list(enumerate(payloads)),
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("payload", T.StringType())]))
    rows = {r["i"]: r for r in cv.apply(df).collect()}
    mismatches = []
    for i, p in enumerate(payloads):
        exp_valid, exp_viol = _interp_expected(p, D2019, sub)
        got = sorted({(v["keyword"], v["schema_path"], v["level"])
                      for v in rows[i]["violations"]})
        if bool(rows[i]["valid"]) != exp_valid \
                or got != sorted(set(exp_viol)):
            mismatches.append(
                f"{OBJECT_CONTENT_PAYLOADS[i]}: columnar "
                f"valid={rows[i]['valid']} viol={got}\n  interp "
                f"valid={exp_valid} viol={sorted(set(exp_viol))}")
    assert not mismatches, "\n".join(mismatches)
    paths = {v["schema_path"] for r in rows.values()
             for v in r["violations"]}
    for kw in ("minProperties", "patternProperties", "additionalProperties",
               "dependentRequired", "exclusiveMinimum", "multipleOf",
               "contains", "a-b"):
        assert any(f"/{kw}" in p for p in paths), kw


VANILLA_SCRIPT = """
import json
import sys

from pyspark.sql import SparkSession

import __spark_entry__ as entry

out = sys.argv[1]
spark = (SparkSession.builder.master("local[2]")
         .appName("m3spark-vanilla-ansi")
         .config("spark.sql.ansi.enabled", "true")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.range(2000).withColumnRenamed("id", "doc_id") \\
    .write.parquet(out + "/documents.parquet")
spark.read.parquet(out + "/documents.parquet") \\
    .createOrReplaceTempView("documents")
got = entry.q_val_content_documents(spark, out).collect()
want = spark.sql(entry.oracle_sql()["val_content_documents"]).collect()
spark.stop()
print("RESULT " + json.dumps({"same": sorted(map(tuple, got))
                                      == sorted(map(tuple, want)),
                              "violations": len(want)}))
"""


def test_content_query_under_vanilla_ansi_session(tmp_path):
    """The content decode is total: under a plain SparkSession (no
    excluded optimizer rule) with ANSI on, the content-keyword query
    over a parquet table equals its SQL oracle instead of throwing from
    the base64 decoder.  Runs in its own process: it starts its own
    session."""
    import os
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=str(root), SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", VANILLA_SCRIPT, str(tmp_path)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("RESULT ")][-1]
    assert json.loads(line[len("RESULT "):]) == {"same": True,
                                                 "violations": 1750}

"""Adversarial engine-parity fixtures for the columnar fast paths.

1. multipleOf at double extremes: the columnar predicate
   (compiler._multiple_of_pred) must agree with the interpreter's exact
   Decimal semantics (jsontypes.is_multiple_of) for huge doubles (beyond
   decimal(38,12)), sub-1e-12 values, >12-fractional-digit values, and
   exact-integer doubles >= 2^53.
2. Every SPARK_RLIKE fast-path regex must agree with the Python format
   checker it replaces, on strings chosen to break weak regexes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from m3spark.columnar.compiler import UnsupportedKeyword, _multiple_of_pred
from m3spark.schema.formats import FORMATS, SPARK_RLIKE
from m3spark.schema.jsontypes import is_multiple_of

# (value, divisor) — truth computed by the interpreter's is_multiple_of
MULTIPLE_OF_CASES = [
    # ordinary
    (0.03, 0.01), (0.035, 0.01), (4.02, 0.02), (4.03, 0.02),
    (0.0, 0.01), (-0.03, 0.01), (-0.035, 0.01),
    (9.0, 3), (10.0, 3), (7.5, 2.5), (8.0, 2.5),
    # >12 fractional digits: decimal(38,12) cast would silently truncate
    (0.30000000000001, 0.01), (1e-13, 0.0001), (1.0000000000005, 0.5),
    # float32-ish noise
    (0.10000000149011612, 0.1),
    # exact-integer doubles at/above 2^53 (old cast overflowed >1e26)
    (2.0**53, 0.02), (2.0**53 + 2, 4), (2.0**53 + 2, 2),
    (1e16, 3), (1.2e17, 3), (1e26, 0.01), (1e300, 0.01),
    (-1e300, 0.01), (1e300, 3), (12345678901234567890.0, 2.5),
    # boundaries around the branch split
    (9007199254740990.0, 2), (9007199254740991.0, 2),
    # shortest-repr (a*10^k) vs raw-binary-value divergence zone
    (1.2345678901234568e+19, 3), (1e22, 7), (1e300, 7), (4.2e19, 3),
    (float("inf"), 2),
]


def test_multiple_of_double_extremes_match_interpreter(spark):
    rows = [(float(v), float(d), i) for i, (v, d) in
            enumerate(MULTIPLE_OF_CASES)]
    df = spark.createDataFrame(rows, "v double, d double, i int")
    from decimal import Decimal
    from fractions import Fraction
    cols = []
    for i, (v, d) in enumerate(MULTIPLE_OF_CASES):
        dd = Decimal(str(d))
        p = abs(Fraction(dd).numerator)
        cols.append(F.when(
            F.col("i") == i,
            _multiple_of_pred(F.col("v"), T.DoubleType(), dd, p)))
    got = {r["i"]: bool(r["ok"]) for r in
           df.select("i", F.coalesce(*cols).alias("ok")).collect()}
    mism = []
    for i, (v, d) in enumerate(MULTIPLE_OF_CASES):
        want = is_multiple_of(v, d)
        if got[i] != want:
            mism.append((v, d, {"interp": want, "columnar": got[i]}))
    assert not mism, f"multipleOf parity broken: {mism}"


def test_multiple_of_integral_column(spark):
    df = spark.createDataFrame([(9,), (10,), (2**62,), (2**62 + 1,)],
                               "v long")
    from decimal import Decimal
    pred = _multiple_of_pred(F.col("v"), T.LongType(), Decimal("2"), 2.0)
    got = [bool(r["ok"]) for r in
           df.select(pred.alias("ok")).orderBy("v").collect()]
    # long path must be exact where double promotion would not be
    assert got == [False, True, True, False]


# type: integer on doubles (draft 6+ zero-fraction semantics): every
# finite double at or above 2^53 is integral, also beyond a bigint's range
INTEGER_DOUBLES = [1.0, 1.5, -2.0, 2.0**53, 2.0**53 + 2, 2.0**63,
                   1.2345678901234568e+19, 1e300, -1e300,
                   float("nan"), float("inf"), float("-inf")]


def test_integer_type_on_huge_doubles_matches_interpreter(spark):
    """A double column and a VARIANT double get the interpreter's
    ``float.is_integer()`` verdict, 1e300 included."""
    from m3spark.columnar import ColumnarValidator
    from m3spark.schema.core import compile_schema

    schema = {"properties": {"x": {"type": "integer"}}}
    want = [compile_schema(schema).validate({"x": v}).valid
            for v in INTEGER_DOUBLES]
    assert want[-5:] == [True, True, False, False, False]
    dbl = spark.createDataFrame(list(enumerate(INTEGER_DOUBLES)),
                                "i int, x double")
    # parse_json reads a number with an exponent as a VARIANT double
    finite = [(i, f"{v:e}") for i, v in enumerate(INTEGER_DOUBLES[:-3])]
    var = (spark.createDataFrame(finite, "i int, j string")
                .select("i", F.parse_json("j").alias("x")))
    cv = ColumnarValidator(schema)
    for df, n in ((dbl, len(want)), (var, len(finite))):
        got = [r["valid"] for r in
               cv.apply(df).orderBy("i").select("valid").collect()]
        assert got == want[:n], df.dtypes


_DRAFT_URIS = {"draft3": "http://json-schema.org/draft-03/schema#",
               "draft4": "http://json-schema.org/draft-04/schema#",
               "draft6": "http://json-schema.org/draft-06/schema#"}


@pytest.mark.parametrize("draft", sorted(_DRAFT_URIS))
def test_integer_type_on_float_columns_per_draft(spark, draft):
    """Drafts 3 and 4 count no float as an integer (the interpreter's
    ``is_integer_strict``), draft 6 counts one with a zero fraction:
    float and double columns agree (VARIANT numbers:
    ``test_variant_integer_type_per_draft``)."""
    from m3spark.columnar import ColumnarValidator
    from m3spark.schema.core import compile_schema

    schema = {"$schema": _DRAFT_URIS[draft],
              "properties": {"x": {"type": "integer"}}}
    texts = ["1.0", "1.5", "-2.0"]
    want = [compile_schema(schema).validate({"x": float(t)}).valid
            for t in texts]
    assert want == ([True, False, True] if draft == "draft6"
                    else [False, False, False])
    rows = [(i, float(t)) for i, t in enumerate(texts)]
    base = spark.createDataFrame(rows, "i int, d double")
    frames = {"float": base.select("i", F.col("d").cast("float").alias("x")),
              "double": base.select("i", F.col("d").alias("x"))}
    cv = ColumnarValidator(schema)
    for kind, df in frames.items():
        got = [r["valid"] for r in
               cv.apply(df).orderBy("i").select("valid").collect()]
        assert got == want, kind


# the five JSON numbers as parse_json stores them: BIGINT, DECIMAL(1,0),
# DECIMAL(2,1), DECIMAL(20,0), DOUBLE
VARIANT_NUMBERS = ["1", "1.0", "2.5", "12345678901234567890", "1e2"]


@pytest.mark.parametrize("types", ["integer", ["integer", "string"]])
@pytest.mark.parametrize("draft", sorted(_DRAFT_URIS))
def test_variant_integer_type_per_draft(spark, draft, types):
    """A VARIANT stores the JSON numbers 1.0 and 12345678901234567890
    alike as DECIMAL(p,0), so the typed views cannot decide drafts 3/4's
    `type: integer`: the check raises ``UnsupportedKeyword`` at apply,
    and ``validate_table`` answers with the interpreter over the JSON
    the VARIANT holds (``to_json`` writes DECIMAL(1,0) as ``1``).  Draft
    6 stays columnar with the same verdicts."""
    import json

    from m3spark.columnar import ColumnarValidator
    from m3spark.schema.core import compile_schema
    from m3spark.sparkval import validate_table

    schema = {"$schema": _DRAFT_URIS[draft],
              "properties": {"x": {"type": types}}}
    df = (spark.createDataFrame(list(enumerate(VARIANT_NUMBERS)),
                                "i int, j string")
               .select("i", F.parse_json("j").alias("x")))
    held = [json.loads(r["t"]) for r in df.orderBy("i").select(
        F.to_json(F.struct("x")).alias("t")).collect()]
    want = [compile_schema(schema).validate(d).valid for d in held]
    assert want == [True, True, False, True, draft == "draft6"]
    if draft == "draft6":
        got = [r["valid"] for r in
               ColumnarValidator(schema).apply(df).orderBy("i").collect()]
        assert got == want
    else:
        with pytest.raises(UnsupportedKeyword, match="type integer over"):
            ColumnarValidator(schema).apply(df)
    got = [r["valid"] for r in
           validate_table(df, schema).orderBy("i").collect()]
    assert got == want


@pytest.mark.parametrize("sub,docs", [
    ({"const": [1, 2]}, ["[1,2]", "[2,1]", "1"]),
    ({"const": {"a": 1}}, ['{"a":1}', '{"a":2}', '"x"']),
    ({"enum": [[1, 2], {"a": 1}, 3]}, ["[1,2]", '{"a":1}', "3", "[3]"]),
    ({"uniqueItems": True}, ["[1,2]", "[1,1]", '"x"']),
])
def test_variant_column_composite_equality_uses_interpreter(spark, sub,
                                                            docs):
    """SQL has no equality on VARIANT values: array/object ``enum`` and
    ``const`` literals and ``uniqueItems`` over a VARIANT table column
    raise ``UnsupportedKeyword`` at apply, so ``validate_table`` answers
    with the interpreter."""
    import json

    from m3spark.columnar import ColumnarValidator, UnsupportedKeyword
    from m3spark.schema.core import compile_schema
    from m3spark.sparkval import validate_table

    schema = {"properties": {"o": sub}}
    df = (spark.createDataFrame(list(enumerate(docs)), "i int, j string")
               .select("i", F.parse_json("j").alias("o")))
    with pytest.raises(UnsupportedKeyword):
        ColumnarValidator(schema).apply(df)
    got = [r["valid"] for r in
           validate_table(df, schema).orderBy("i").collect()]
    want = [compile_schema(schema).validate({"o": json.loads(d)}).valid
            for d in docs]
    assert got == want


def test_multiple_of_zero_divisor_schema(spark):
    from m3spark.columnar import ColumnarValidator
    df = spark.createDataFrame([(4.0,), (0.0,)], "x double")
    cv = ColumnarValidator({"properties": {"x": {"multipleOf": 0}}})
    got = [bool(r["valid"]) for r in cv.apply(df).orderBy("x").collect()]
    assert got == [False, False]  # nothing is a multiple of 0


# -------------------------------------------------------- SPARK_RLIKE parity

RLIKE_BATTERY = {
    "uuid": [
        "123e4567-e89b-12d3-a456-426614174000",
        "123E4567-E89B-12D3-A456-426614174000",
        "123e4567-e89b-12d3-a456-42661417400",    # short
        "123e4567e89b12d3a456426614174000",       # no dashes
        "g23e4567-e89b-12d3-a456-426614174000",   # non-hex
    ],
    "json-pointer": [
        "", "/a/b", "/a~1b", "/a~0b", "/a~", "/~2", "a/b", "/", "//", "/ ",
    ],
    "relative-json-pointer": [
        "0", "1/a", "0#", "01", "1#/", "10/x~1y", "-1", "#",
    ],
    "ipv4": [
        "1.2.3.4", "255.255.255.255", "256.1.1.1", "01.2.3.4",
        "1.2.3", "1.2.3.4.5", "1.2.3.4 ", "a.b.c.d", "1..2.3",
    ],
    "ipv6": [
        "::1", "::", "2001:db8::7", "1:2:3:4:5:6:7:8", "12345::",
        "1::2::3", "fe80::1%eth0", "::ffff:1.2.3.4",
    ],
}


@pytest.mark.parametrize("fmt", sorted(SPARK_RLIKE))
def test_rlike_fast_path_matches_python(spark, fmt):
    battery = RLIKE_BATTERY[fmt]  # every fast-path entry needs a battery
    checker = FORMATS[fmt]
    df = spark.createDataFrame([(s,) for s in battery], "s string")
    got = {r["s"]: bool(r["ok"]) for r in
           df.select("s", F.col("s").rlike(SPARK_RLIKE[fmt]).alias("ok"))
             .collect()}
    mism = [(s, {"python": checker(s), "rlike": got[s]})
            for s in battery if got[s] != checker(s)]
    assert not mism, f"{fmt} rlike/python disagreement: {mism}"


def test_dropped_formats_not_in_fast_path():
    # date (month lengths/leap years) and hostname (253-char limit,
    # punycode decode) cannot be one anchored regex — they must route
    # through the pandas-UDF path
    assert "date" not in SPARK_RLIKE
    assert "hostname" not in SPARK_RLIKE


ZONE_URIS = [
    "http://[fe80::1%25eth0]/",      # alnum zone
    "http://[fe80::1%25eth0.1]/",    # '.' in zone: check_uri accepts
    "http://[fe80::1%25en-us_0~x]/", # '-', '_', '~' in zone
    "http://[fe80::1%]",             # bad pct escape → both reject
    "http://[fe80::1%zz]/",          # bad pct escape → both reject
]


JAVA_STR_DOUBLES = [
    0.05, 1e-4, 0.001, 0.0009, 123456789.0, 1234567.0, 9999999.0, 1e7,
    1.5e-3, 0.0, -0.0, 2.5, 1e300, 1e-300, 3.141592653589793,
    9007199254740994.0, 0.1 + 0.2, -42.0, 6.02e23, float("inf"),
]


def test_java_double_string_matches_spark_cast(spark):
    """Violation `value` rendering parity: the interpreter's
    _java_num_str must equal Spark's cast(double as string)."""
    from m3spark.schema.core import _java_num_str
    df = spark.createDataFrame([(x,) for x in JAVA_STR_DOUBLES], "x double")
    got = [r["s"] for r in
           df.select(F.col("x").cast("string").alias("s")).collect()]
    want = [_java_num_str(x) for x in JAVA_STR_DOUBLES]
    assert got == want, list(zip(JAVA_STR_DOUBLES, got, want))


def test_uri_zone_id_parity(spark):
    from m3spark.columnar.compiler import _uri_pred
    from m3spark.schema.formats import check_uri
    df = spark.createDataFrame([(u,) for u in ZONE_URIS], "u string")
    got = {r["u"]: bool(r["ok"]) for r in
           df.select("u", _uri_pred(F.col("u")).alias("ok")).collect()}
    mism = [(u, {"python": check_uri(u), "columnar": got[u]})
            for u in ZONE_URIS if got[u] != check_uri(u)]
    assert not mism, f"zone-id disagreement: {mism}"


def test_array_literal_exact_equality_paths(spark):
    """r6 advice: enum/const ARRAY literals whose elements need the
    exact-equality path must neither crash plan build (huge-int element
    -> F.lit py4j overflow) nor lose exactness (float element vs
    integral elementType at >= 2^53) — per-element predicate route
    (_eq_lit_any), interp parity throughout."""
    import json

    from m3spark.columnar import ColumnarValidator
    from m3spark.sparkval import validate_json

    def parity(schema, col_ddl, vals, expected):
        df = spark.createDataFrame([(v,) for v in vals], col_ddl)
        cv = ColumnarValidator(schema)
        got = [r["valid"] for r in cv.apply(df).collect()]
        name = col_ddl.split()[0]
        docs = [json.dumps({} if v is None else {name: v})
                for v in vals]
        interp = [r["valid"] for r in validate_json(
            spark.createDataFrame([(x,) for x in docs], "doc string"),
            schema).collect()]
        assert got == interp == expected, (schema, got, interp)

    # huge-int element: pre-fix this crashed at plan build (lit(2^63))
    parity({"properties": {"a": {"enum": [[2**63, 1], [1, 2]]}}},
           "a array<bigint>",
           [[9223372036854775807, 1], [1, 2], [], None],
           [False, True, False, True])
    # int element beyond 2^53 vs double elements: mathematical equality
    parity({"properties": {"b": {"const": [2**53]}}},
           "b array<double>",
           [[float(2**53)], [float(2**53) + 2.0], None],
           [True, False, True])
    # non-double-representable int element equals NO double
    parity({"properties": {"b": {"const": [2**53 + 1]}}},
           "b array<double>",
           [[float(2**53)], [float(2**53) + 2.0], None],
           [False, False, True])
    # float elements vs integral elementType: exact, not SQL coercion
    parity({"properties": {"c": {"enum": [[1.0, 2.0]]}}},
           "c array<bigint>",
           [[1, 2], [1, 3], None],
           [True, False, True])


DATE_BATTERY = [
    # valid
    "2024-02-29", "2000-02-29", "1999-12-31", "0001-01-01", "2024-01-31",
    "2023-06-30", "9999-12-31", "2024-08-18",
    # invalid calendar dates that PASS the shape regex
    "2023-02-29", "1900-02-29", "2100-02-29", "2024-02-30", "2024-04-31",
    "2024-06-31", "2024-09-31", "2024-11-31", "2024-00-10", "2024-13-01",
    "2024-01-00", "2024-01-32", "0000-01-01",
    # shape failures
    "2024-1-01", "24-01-01", "2024-01-1", "2024/01/01", "20240101",
    "2024-01-01T00:00:00Z", " 2024-01-01", "2024-01-01 ", "", "abcd-ef-gh",
    "２０２４-01-01",  # fullwidth digits (\\d in Java rlike is ASCII-only)
    "+024-01-01", "2024-01-01\n",
]


def test_date_pred_matches_checker(spark):
    """r7: format:date leaves the Arrow checker path for a closed-form
    JVM predicate (anchored shape + days-in-month/leap bound); this
    adversarial battery pins bit-parity with formats.check_date."""
    from m3spark.columnar.compiler import _date_pred
    from m3spark.schema.formats import check_date
    df = spark.createDataFrame([(s,) for s in DATE_BATTERY], "s string")
    got = {r["s"]: bool(r["ok"]) for r in
           df.select("s", _date_pred(F.col("s")).alias("ok")).collect()}
    mism = [(s, {"python": check_date(s), "columnar": got[s]})
            for s in DATE_BATTERY if got[s] != check_date(s)]
    assert not mism, f"date disagreement: {mism}"

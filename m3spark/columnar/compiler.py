"""Schema → Column-expression compiler (the 100 TB hot path).

Re-expresses m3's keyword checkers (SURVEY.md §2.1-2.3, §2.7) as pure
Spark ``Column`` predicates over a flat, typed table: the schema's
top-level ``properties`` map to DataFrame columns, ``required`` maps to
NOT NULL, and every scalar keyword compiles to a boolean expression that
stays inside whole-stage codegen.  A SQL ``NULL`` models a *missing* JSON
property (so type/bounds checks pass on NULL and ``required`` fails on
it, matching JSON Schema presence semantics — m3's ``present?`` gate,
validate.cljc:205-232).

Compile-time specialization mirrors the reference's two-level currying
(validate.cljc:26-43): draft-dependent branches (old-draft
exclusiveMinimum booleans, divisibleBy vs multipleOf) are resolved when
the plan is built, not per row (property.cljc:531-532 analog).

Formats whose semantics survive a Java regex run as JVM ``rlike``
(:data:`m3spark.schema.formats.SPARK_RLIKE`); the rest fall back to
Arrow-batched pandas UDFs over the same Python format registry — the
north-star's "regex/format checks batched, never per-row Python".
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal
from fractions import Fraction
from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from m3spark.columnar.inline import UNROLL_GUARD_KEY, inline_local_refs
from m3spark.memo import expr_memo
from m3spark.schema.core import (
    DNEXT, DRAFT3, DRAFT4, DRAFT6, DRAFT7, D2019, D2020,
    _SCHEMA_URI_TO_DRAFT, _ge, draft_of, meta_validate_schema,
)
from m3spark.schema.formats import (
    FORMATS, IPV6_PATTERN, SPARK_RLIKE, URI_BAD_PCT_PATTERN,
    URI_CHARSET_PATTERN, URI_SCHEME_PATTERN,
)
from m3spark.sparkval import violation_rows


class UnsupportedKeyword(Exception):
    """Schema uses a keyword the columnar compiler can't lower; route the
    query through m3spark.sparkval (Arrow-batched interpreter) instead."""


@dataclass
class Check:
    """One compiled constraint: a builder producing an 'ok' predicate."""
    column: str
    keyword: str
    schema_path: str
    message: str
    level: str
    build: Callable[[Column, T.DataType], Column]
    doc_path: str | None = None  # defaults to "/<column>" at apply time
    # navigates from the top-level column to the offending value (nested
    # checks render the leaf, not the whole struct); None = the column
    value_of: Callable[[Column, T.DataType], Column] | None = None


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _type_ok(tname: str, dtype: T.DataType, col: Column) -> Column:
    """Static-first type check: if the column's Spark type already
    satisfies the JSON type, the predicate folds to a literal (free under
    Catalyst constant folding)."""
    if tname == "null":
        return col.isNull()
    if tname == "string":
        return F.lit(isinstance(dtype, T.StringType))
    if tname == "boolean":
        return F.lit(isinstance(dtype, T.BooleanType))
    if tname == "number":
        return F.lit(isinstance(dtype, _NUMERIC))
    if tname == "integer":
        if isinstance(dtype, _INTEGRAL):
            return F.lit(True)
        if isinstance(dtype, _NUMERIC):
            return col == F.floor(col)  # draft6+ zero-fraction semantics
        return F.lit(False)
    if tname == "array":
        return F.lit(isinstance(dtype, T.ArrayType))
    if tname == "object":
        return F.lit(isinstance(dtype, (T.StructType, T.MapType)))
    if tname == "any":
        return F.lit(True)
    return F.lit(False)


_TWO_53 = 9007199254740992.0  # 2^53: doubles at/above are exact integers
_DEC38 = T.DecimalType(38, 0)


def _huge_multiple_pred(dbl: Column, p: int) -> Column:
    """|v| >= 2^53 branch: is the value's SHORTEST-ROUND-TRIP decimal
    (a * 10^k, the same number BigDecimal.valueOf / Decimal(str(v)) sees)
    divisible by p?  Parse Spark's scientific string form (mantissa 'a'
    has <= 17 digits, so it fits a long exactly) and reduce mod p with a
    compile-time 10^k mod p table — pure JVM, exact for any double."""
    s = F.upper(F.regexp_replace(dbl.cast("string"), "-", ""))
    mant = F.substring_index(s, "E", 1)
    expo = F.substring_index(s, "E", -1).cast("int")
    dot = F.instr(mant, ".")
    frac_len = F.when(dot > 0, F.length(mant) - dot).otherwise(F.lit(0))
    k = expo - frac_len  # value = a * 10^k; k >= 0 for integer doubles
    a = F.regexp_replace(mant, "\\.", "").cast(_DEC38)
    pow10_mod = F.array(*[F.lit(pow(10, j, p)).cast(_DEC38)
                          for j in range(340)])  # double exponents < 309
    m10k = F.element_at(pow10_mod, k + 1)
    p_lit = F.lit(p).cast(_DEC38)
    ok = F.pmod((a % p_lit) * m10k, p_lit) == 0
    # no-E form or k out of table range should be unreachable for
    # |v| >= 2^53; fail closed (violation) rather than silently pass
    return F.when(s.contains("E") & (k >= 0) & (k < 340), ok) \
            .otherwise(F.lit(False))


def _multiple_of_pred(col: Column, dt: T.DataType, d: Decimal,
                      p: int) -> Column:
    """Exact multipleOf over any numeric Spark type, matching the
    interpreter's Decimal(str(v)) semantics (jsontypes.is_multiple_of)
    and the reference's BigDecimal semantics (property.cljc:610-632).

    - integral / decimal columns: native decimal modulo (always exact;
      no cast that could overflow).
    - float / double, |v| < 2^53: Spark's double->decimal cast goes
      through the shortest round-trip string (BigDecimal.valueOf), so
      when the decimal(38,12) value casts BACK to the same double, it
      equals Decimal(str(v)) exactly and the decimal modulo is exact.
      A failed round-trip means str(v) needs >12 fractional digits,
      which cannot be a multiple of a divisor with <=12 fractional
      digits -> violation.
    - float / double, |v| >= 2^53: the shortest-repr value is an
      integer a*10^k; a multiple of d = p/q (coprime) iff p | a*10^k,
      checked exactly via modular arithmetic (_huge_multiple_pred).
    """
    if not isinstance(dt, (T.FloatType, T.DoubleType)):
        return (col % F.lit(d)) == 0
    dbl = col.cast("double")
    dec = dbl.cast(T.DecimalType(38, 12))
    small_ok = ((dec % F.lit(d)) == 0) & (dec.cast("double") == dbl)
    if p == 1:
        # d = 1/q: every integer (every huge double) is a multiple
        huge_ok = ~F.isnan(dbl) & (F.abs(dbl) != float("inf"))
    elif p < 10**18:
        huge_ok = _huge_multiple_pred(dbl, p)
    else:  # numerator beyond decimal-long range (pathological divisor)
        huge_ok = F.lit(False)
    return F.when(F.abs(dbl) < F.lit(_TWO_53), small_ok).otherwise(huge_ok)


def _uri_pred(col: Column) -> Column:
    """format:uri as pure JVM expressions — the north-star hot path stays
    in whole-stage codegen instead of 1 Python call per row.  Mirrors
    m3spark.schema.formats.check_uri (charset+scheme anchored match,
    %-escape validity, authority structure: no brackets in userinfo,
    numeric port, RFC-3986 IPv6 literal); agreement is pinned by
    tests/test_sparkval.py::test_columnar_uri_matches_python."""
    charset_ok = col.rlike("^" + URI_CHARSET_PATTERN + "$")
    pct_ok = ~col.rlike(URI_BAD_PCT_PATTERN)
    auth = F.regexp_extract(col, "^" + URI_SCHEME_PATTERN + "://([^/?#]*)", 1)
    hostport = F.regexp_extract(auth, "([^@]*)$", 1)
    userinfo = F.substring(
        auth, F.lit(1), F.length(auth) - F.length(hostport) - 1)
    userinfo_ok = F.when(auth.contains("@"),
                         ~userinfo.rlike("[\\[\\]]")).otherwise(F.lit(True))
    # zone id: check_uri accepts anything after the first '%' inside the
    # brackets (bad %-escapes are already rejected by pct_ok), so the JVM
    # rule must be just as permissive — `[^\]]*`, not `[0-9A-Za-z]+`
    bracket_ok = hostport.rlike(
        "^\\[(" + IPV6_PATTERN + "(%[^\\]]*)?"
        + "|v[0-9A-Fa-f]+\\..+)\\](:[0-9]*)?$")
    plain_ok = hostport.rlike("^[^\\[\\]:]*(:[0-9]*)?$")
    host_ok = F.when(hostport.startswith("["), bracket_ok).otherwise(plain_ok)
    auth_ok = F.when(auth == "", F.lit(True)).otherwise(
        userinfo_ok & host_ok)
    return charset_ok & pct_ok & auth_ok


def _date_pred(col: Column) -> Column:
    """format:date as pure JVM expressions (r7) — a regex alone cannot
    express month lengths / leap years, but a closed-form
    days-in-month bound can, so `date` leaves the Arrow checker path
    and joins whole-stage codegen.  Mirrors
    m3spark.schema.formats.check_date exactly: anchored
    \\d{4}-\\d{2}-\\d{2} shape, year >= 1 (date.fromisoformat rejects
    0000), month 1-12, day 1..days-in-month with the Gregorian leap
    rule.  Agreement pinned by the adversarial battery in
    tests/test_columnar_exactness.py::test_date_pred_matches_checker."""
    # \z, not $: Java's $ also matches just before a trailing newline
    shape_ok = col.rlike(r"^\d{4}-\d{2}-\d{2}\z")
    y = F.substring(col, 1, 4).cast("int")
    m = F.substring(col, 6, 2).cast("int")
    d = F.substring(col, 9, 2).cast("int")
    leap = (((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0))
    dim = (F.when(m.isin(1, 3, 5, 7, 8, 10, 12), F.lit(31))
            .when(m.isin(4, 6, 9, 11), F.lit(30))
            .when(m == 2, F.when(leap, F.lit(29)).otherwise(F.lit(28)))
            .otherwise(F.lit(0)))
    return F.when(shape_ok,
                  (y >= 1) & (m >= 1) & (m <= 12) & (d >= 1) & (d <= dim)
                  ).otherwise(F.lit(False))


def _format_pred(fmt: str) -> Callable[[Column, T.DataType], Column]:
    # builders tagged _jvm=False use pandas UDFs, which cannot run inside
    # higher-order-function lambdas (nested array/struct compilation
    # rejects them)
    if fmt == "uri":
        fn = lambda col, dt: _uri_pred(col)  # noqa: E731
        fn._jvm = True
        return fn
    if fmt == "date":
        fn = lambda col, dt: _date_pred(col)  # noqa: E731
        fn._jvm = True
        return fn
    rx = SPARK_RLIKE.get(fmt)
    if rx is not None:
        fn = lambda col, dt: col.rlike(rx)  # noqa: E731
        fn._jvm = True
        return fn
    if FORMATS.get(fmt) is None:
        fn = lambda col, dt: F.lit(True)  # noqa: E731
        fn._jvm = True
        return fn

    def fmt_check(s: pd.Series) -> pd.Series:
        f = FORMATS[fmt]
        return s.map(lambda x: None if x is None else bool(f(x)))

    fn = lambda col, dt: _py_pred(fmt_check, col)  # noqa: E731
    fn._jvm = False
    return fn


def _pattern_pred(pattern: str, force_python: bool) -> Callable:
    """ECMA pattern predicate.  Fast path: the ECMA->Java translation
    (schema/ecma.py) runs as JVM rlike — `$`, `.`, `\\cX`, `\\u{..}`,
    named groups and empty classes are all rewritten to exact Java
    equivalents, so the JVM path carries ECMA semantics instead of
    approximating them.  An ECMA-invalid pattern compiles to no check
    (the interpreter's c_pattern ignores it identically)."""
    import re as _re

    from m3spark.schema.ecma import java_pattern

    if pattern.startswith("$format:"):
        # reference extension (property.cljc:705-710): pattern delegates
        # to a format checker
        fmt = pattern[len("$format:"):]
        if FORMATS.get(fmt) is None:
            fn = lambda col, dt: F.lit(True)  # noqa: E731 (unknown: no-op)
            fn._jvm = True
            return fn
        return _format_pred(fmt)
    if not force_python:
        try:
            jpat = java_pattern(pattern)
        except _re.error:
            # ECMA-invalid: both engines ignore the keyword
            fn = lambda col, dt: F.lit(True)  # noqa: E731
            fn._jvm = True
            return fn
        fn = lambda col, dt: col.rlike(jpat)  # noqa: E731
        fn._jvm = True
        return fn

    def pat_check(s: pd.Series) -> pd.Series:
        from m3spark.schema.core import compile_ecma_pattern  # noqa: PLC0415
        try:
            rx = compile_ecma_pattern(pattern)
        except _re.error:
            return s.map(lambda x: None if x is None else True)
        return s.map(lambda x: None if x is None else rx.search(x) is not None)

    fn = lambda col, dt: _py_pred(pat_check, col)  # noqa: E731
    fn._jvm = False
    return fn


def _py_pred(check: Callable[[pd.Series], pd.Series], col: Column) -> Column:
    """``check`` as a boolean pandas UDF over ``col``.  A new UDF per
    built Column: a UDF object keeps the JVM function of the
    SparkContext it was first called under, so a shared one would carry
    a stopped context's accumulator into the next session."""
    return F.pandas_udf(check, T.BooleanType())(col)


class ColumnarValidator:
    """Compiled columnar validation plan for one schema over one table
    shape.  ``apply(df)`` appends ``violations`` + ``valid`` columns;
    ``violation_rows(df, key)`` yields the north-star violation table."""

    def __init__(self, schema: dict, draft: str | None = None,
                 format_assertion: bool | None = None,
                 force_python_patterns: bool = False,
                 strict: bool = True,
                 meta_validate: bool = True,
                 ref_unroll: int | None = None,
                 inline_refs: bool = True,
                 registry: dict | None = None,
                 uri_dirs: dict | None = None):
        self.schema = schema
        self.draft = draft or draft_of(schema)
        if format_assertion is None:
            format_assertion = not _ge(self.draft, D2019)
        self.format_assertion = format_assertion
        self._force_py = force_python_patterns
        self.checks: list[Check] = []
        self.unsupported: list[str] = []
        # shared subexpressions bound ONCE per row in a projection below
        # the check projection (r8): name -> (source column, () -> Column).
        # Today this carries the content-keyword decode chain
        # (try_parse_json(unbase64(col)) and the base64-validity gate),
        # which would otherwise be re-evaluated by every per-keyword
        # predicate — Spark's codegen subexpression elimination does not
        # collapse them because each occurrence sits inside a different
        # conditional branch.  apply() materializes these and records
        # them in _avail; builders fall back to the inline expression
        # when their validator instance was hoisted into a fragment
        # predicate (whose synthetic columns never hit a real plan).
        self.derived: dict = {}
        self._avail: set = set()
        # validate-m2 parity with the interpreter (core.py): an invalid
        # schema compiles to a plan that flags EVERY row with the
        # meta-error instead of silently lenient checks
        self.registry = dict(registry or {})
        self.uri_dirs = dict(uri_dirs or {})
        # custom-dialect guard: a registry meta-schema carrying
        # $vocabulary restricts the ACTIVE keyword set (core.py
        # _meta_vocabulary / vocabulary.dialect_keywords) — the interp
        # honors it, this compiler does not filter keywords, so route
        # such schemas to the interp rather than over-enforce
        if isinstance(schema, dict):
            s_uri = schema.get("$schema")
            if (isinstance(s_uri, str)
                    and s_uri.rstrip("#") not in _SCHEMA_URI_TO_DRAFT):
                meta = (self.registry.get(s_uri)
                        or self.registry.get(s_uri.rstrip("#")))
                if (isinstance(meta, dict)
                        and isinstance(meta.get("$vocabulary"), dict)):
                    raise UnsupportedKeyword(
                        "custom $vocabulary dialect restricts active "
                        "keywords; use m3spark.sparkval.validate_json")
        self.meta_errors = (meta_validate_schema(schema, self.draft,
                                                 self.registry)
                            if meta_validate else [])
        if self.meta_errors:
            msg = self.meta_errors[0].message
            n = len(self.meta_errors)
            if n > 1:
                msg += f" (+{n - 1} more meta-errors)"
            self._add(self._ROW_CHECK, "$schema", "", msg, "error",
                      lambda col, dtypes: F.lit(False), null_passes=False)
            return
        # eager driver-side $ref/$defs inlining (SURVEY §2.8): acyclic
        # local refs expand before compilation so the common reuse idiom
        # stays pure JVM; productive cycles unroll with a depth guard;
        # anything the inliner can't do safely (external refs,
        # $dynamicRef/$recursiveRef, non-productive cycles) keeps the
        # original schema and routes to the interp via UnsupportedKeyword
        # below.  Inner validators over fragments pass inline_refs=False:
        # a fragment's `#` pointers address the ORIGINAL root, which the
        # fragment no longer knows — any $ref the root-level inline left
        # behind must stay an unsupported keyword, never re-resolve
        # against the fragment-as-root.
        self._compile_root(inline_local_refs(schema, self.draft,
                                             unroll=ref_unroll,
                                             registry=self.registry,
                                             uri_dirs=self.uri_dirs)
                           if inline_refs else schema)
        if strict and self.unsupported:
            raise UnsupportedKeyword(
                f"columnar compiler cannot lower: {self.unsupported}; "
                f"use m3spark.sparkval.validate_json for these")

    # -- compilation --------------------------------------------------------

    _PROP_KEYWORDS = {
        "type", "enum", "const", "minimum", "maximum", "exclusiveMinimum",
        "exclusiveMaximum", "multipleOf", "divisibleBy", "minLength",
        "maxLength", "pattern", "format", "allOf", "anyOf", "oneOf", "not",
        "required",  # draft3 boolean form / nested struct requireds
        "items", "prefixItems", "additionalItems",
        "minItems", "maxItems", "uniqueItems",
        "contains", "minContains", "maxContains",
        "properties",  # nested struct/map columns
        "patternProperties", "additionalProperties", "propertyNames",
        "minProperties", "maxProperties",
        "title", "description", "default", "examples", "$comment",
        "deprecated", "readOnly", "writeOnly",
        "contentEncoding", "contentMediaType", "contentSchema",
        "unevaluatedProperties", "unevaluatedItems",
        "if", "then", "else",
        "dependentRequired", "dependentSchemas", "dependencies",
        "extends", "propertyDependencies",
        UNROLL_GUARD_KEY,
    }
    _ROOT_KEYWORDS = {
        "$schema", "$id", "id", "$defs", "definitions", "type", "properties",
        "required", "additionalProperties", "patternProperties",
        "propertyNames", "minProperties", "maxProperties",
        "title", "description",
        "$comment", "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
        "dependentRequired", "dependentSchemas", "dependencies",
        "unevaluatedProperties", "unevaluatedItems",
        "extends", "propertyDependencies",
    }

    _ROW_CHECK = ""  # Check.column sentinel: build receives (None, dtypes)

    def _compile_root(self, schema: dict, sp: str = ""):
        for k in schema:
            if k not in self._ROOT_KEYWORDS:
                self.unsupported.append(k)
        req = schema.get("required")
        if isinstance(req, list):
            for name in req:
                # interp convention (c_required): the violation sits at
                # the OBJECT that is missing the key — the table row,
                # pointer "" — and renders the row document as value
                # (apply() special-cases the whole-row to_json)
                self._add(name, "required", f"{sp}/required",
                          f"required property {name!r} missing",
                          "error", self._required_builder(),
                          doc_path="")
        props = schema.get("properties")
        if isinstance(props, dict):
            for name, sub in props.items():
                self._compile_property(name, sub, f"{sp}/properties/{name}")
        # root-level additionalProperties over the FLAT table: a column
        # not named by the adjacent `properties` is an "additional"
        # property — present (non-NULL) values must be allowed / satisfy
        # the AP schema.  This also makes every branch predicate built
        # via _row_pred enforce AP, which is what lets _root_claims map
        # `additionalProperties` to an all_keys claim soundly (the claim
        # only counts when the branch — including its AP check —
        # succeeds).
        # root-level patternProperties over the FLAT table: column names
        # are static, so the ECMA match runs at compile/build time with
        # the engine's own matcher (struct path does the same)
        root_rx = [rx for _, rx in self._claim_patterns(schema)]
        pp = schema.get("patternProperties")
        if isinstance(pp, dict):
            for pat, psch in pp.items():
                if psch is True or psch == {}:
                    continue
                if not isinstance(psch, (dict, bool)):
                    continue
                try:
                    from m3spark.schema.core import compile_ecma_pattern
                    rx = compile_ecma_pattern(pat)
                except Exception:
                    continue  # ECMA-invalid: keyword ignored (c_pattern)
                psp = f"{sp}/patternProperties/{pat}"
                pb = ((lambda col, dt: F.lit(False),) if psch is False
                      else self._error_builders(psch, psp))
                if not pb:
                    continue

                def build_pp_root(_col, dtypes, _rx=rx, _b=tuple(pb)):
                    oks = []
                    for cname, cdt in dtypes.items():
                        if not _rx.search(cname):
                            continue
                        v = F.col(cname)
                        oks.append(v.isNull() | _reduce_and(
                            [bb(v, cdt).eqNullSafe(True) for bb in _b]))
                    return _reduce_and(oks)

                self._row_check(
                    "patternProperties", psp,
                    f"value under key matching {pat!r} violates schema",
                    build_pp_root)
        ap = schema.get("additionalProperties")
        if isinstance(ap, (dict, bool)) and ap is not True and ap != {}:
            named = frozenset(props) if isinstance(props, dict) else \
                frozenset()
            ab = () if ap is False else self._error_builders(
                ap, f"{sp}/additionalProperties")

            def build_ap_root(_col, dtypes, _n=named, _b=ab,
                              _rx=tuple(root_rx), _false=ap is False):
                oks = []
                for cname, cdt in dtypes.items():
                    if cname in _n or any(rx.search(cname) for rx in _rx):
                        continue
                    v = F.col(cname)
                    if _false:
                        oks.append(v.isNull())
                    elif _b:
                        oks.append(v.isNull() | _reduce_and(
                            [bb(v, cdt).eqNullSafe(True) for bb in _b]))
                return _reduce_and(oks)

            self._row_check(
                "additionalProperties", f"{sp}/additionalProperties",
                "additional properties are not allowed" if ap is False
                else "additional property violates schema", build_ap_root)
        # root propertyNames: names are the static column set; evaluate
        # the name schema once per column on the DRIVER with the
        # interpreter and fold the outcome to a literal per present column
        pn = schema.get("propertyNames")
        if isinstance(pn, (dict, bool)) and _ge(self.draft, DRAFT6) \
                and pn is not True and pn != {}:
            from m3spark.schema.core import CompiledSchema
            pn_cs = None if pn is False else CompiledSchema(
                pn, draft=self.draft,
                format_assertion=self.format_assertion, meta_validate=False)

            def build_pn_root(_col, dtypes, _cs=pn_cs):
                oks = []
                for cname in dtypes:
                    ok = (False if _cs is None
                          else _cs.validate(cname).valid)
                    oks.append(F.col(cname).isNull() | F.lit(ok))
                return _reduce_and(oks)

            self._row_check("propertyNames", f"{sp}/propertyNames",
                            "property name violates schema", build_pn_root)
        for kw, cmp_ok in (("minProperties", lambda n, v: n >= v),
                           ("maxProperties", lambda n, v: n <= v)):
            v = schema.get(kw)
            if isinstance(v, int) and not isinstance(v, bool):

                def build_np_root(_col, dtypes, _v=v, _c=cmp_ok):
                    n = None
                    for cname in dtypes:
                        x = F.when(F.col(cname).isNotNull(), 1).otherwise(0)
                        n = x if n is None else n + x
                    if n is None:
                        n = F.lit(0)
                    return _c(n, F.lit(_v))

                self._row_check(
                    kw, f"{sp}/{kw}",
                    f"{'fewer' if kw == 'minProperties' else 'more'} than "
                    f"{v} properties", build_np_root)
        # root-level cross-column applicators (SURVEY §2.7: the "set ops"
        # over row predicates — when(if_pred, then_pred) etc.)
        allof = schema.get("allOf")
        if isinstance(allof, list):
            for i, branch in enumerate(allof):
                if isinstance(branch, dict):
                    # flatten: keeps per-keyword violation granularity
                    self._compile_root(branch, f"{sp}/allOf/{i}")
        # draft-3 extends: conjunctive (allOf's ancestor) — flatten the
        # same way; unknown keyword in every other draft (interp parity)
        ext = schema.get("extends")
        if self.draft == DRAFT3 and ext is not None:
            branches = ext if isinstance(ext, list) else [ext]
            for i, branch in enumerate(branches):
                if isinstance(branch, dict):
                    self._compile_root(branch, f"{sp}/extends/{i}")
        # draft-next propertyDependencies: property p holding STRING
        # value v triggers the (p, v) schema (c_property_dependencies)
        pdeps = schema.get("propertyDependencies")
        if isinstance(pdeps, dict) and _ge(self.draft, DNEXT):
            for prop, m in pdeps.items():
                if not isinstance(m, dict):
                    continue
                for sval, s in m.items():
                    if not isinstance(s, (dict, bool)) \
                            or not isinstance(sval, str):
                        continue
                    psp = f"{sp}/propertyDependencies/{prop}/{sval}"
                    pred = self._row_pred(s, psp, errors_only=True)

                    def build_pd(_col, dtypes, _p=prop, _v=sval,
                                 _pred=pred):
                        if _p in dtypes and isinstance(dtypes[_p],
                                                       T.StringType):
                            trig = F.col(_p) == F.lit(_v)
                        else:
                            trig = F.lit(False)
                        return F.when(trig,
                                      _pred(dtypes).eqNullSafe(True)) \
                                .otherwise(F.lit(True))

                    self._row_check(
                        "propertyDependencies", psp,
                        f"dependent schema for {prop}={sval!r} failed",
                        build_pd)
        for comb in ("anyOf", "oneOf"):
            branches = schema.get(comb)
            if isinstance(branches, list):
                preds = [self._row_pred(b, f"{sp}/{comb}/{i}")
                         for i, b in enumerate(branches)
                         if isinstance(b, (dict, bool))]

                def build_comb(_col, dtypes, _p=tuple(preds), _c=comb):
                    oks = [p(dtypes) for p in _p]
                    if _c == "anyOf":
                        return _reduce_or(oks)
                    total = None
                    for ok in oks:
                        x = F.when(ok.eqNullSafe(True), 1).otherwise(0)
                        total = x if total is None else total + x
                    return total == 1

                self._row_check(comb, f"{sp}/{comb}",
                                f"{comb} constraint failed", build_comb)
        if isinstance(schema.get("not"), (dict, bool)):
            pred = self._row_pred(schema["not"], f"{sp}/not")
            self._row_check("not", f"{sp}/not", "row matches 'not' schema",
                            lambda _col, dtypes, _p=pred:
                            ~_p(dtypes).eqNullSafe(True))
        if isinstance(schema.get("if"), (dict, bool)):
            if_p = self._row_pred(schema["if"], f"{sp}/if")
            then_p = self._row_pred(schema["then"], f"{sp}/then") \
                if isinstance(schema.get("then"), (dict, bool)) else None
            else_p = self._row_pred(schema["else"], f"{sp}/else") \
                if isinstance(schema.get("else"), (dict, bool)) else None

            def build_ite(_col, dtypes, _i=if_p, _t=then_p, _e=else_p):
                cond = _i(dtypes).eqNullSafe(True)
                t_ok = _t(dtypes) if _t is not None else F.lit(True)
                e_ok = _e(dtypes) if _e is not None else F.lit(True)
                return F.when(cond, t_ok).otherwise(e_ok)

            self._row_check("if", f"{sp}/if",
                            "conditional (if/then/else) failed", build_ite)
        dep = schema.get("dependentRequired")
        if isinstance(dep, dict):
            for key, needs in dep.items():
                if not isinstance(needs, list):
                    continue

                def build_dep(_col, dtypes, _k=key, _n=tuple(needs)):
                    present = F.col(_k).isNotNull() if _k in dtypes \
                        else F.lit(False)
                    all_there = _reduce_and(
                        [F.col(n).isNotNull() if n in dtypes else F.lit(False)
                         for n in _n])
                    return F.when(present, all_there).otherwise(F.lit(True))

                self._row_check(
                    "dependentRequired", f"{sp}/dependentRequired/{key}",
                    f"property {key!r} requires {list(needs)!r}", build_dep)
        # pre-2019 spelling: `dependencies` carries BOTH forms (array =
        # required-keys, dict/bool = schema); removed in 2019-09 where
        # the split keywords take over (interp keyword-table parity)
        deps = schema.get("dependencies")
        if isinstance(deps, dict) and not _ge(self.draft, D2019):
            for key, v in deps.items():
                dsp = f"{sp}/dependencies/{key}"
                if isinstance(v, list) or isinstance(v, str):
                    needs = [v] if isinstance(v, str) else v

                    def build_da(_col, dtypes, _k=key, _n=tuple(needs)):
                        present = F.col(_k).isNotNull() if _k in dtypes \
                            else F.lit(False)
                        all_there = _reduce_and(
                            [F.col(x).isNotNull() if x in dtypes
                             else F.lit(False) for x in _n])
                        return F.when(present, all_there) \
                                .otherwise(F.lit(True))

                    self._row_check("dependencies", dsp,
                                    f"property {key!r} requires "
                                    f"{list(needs)!r}", build_da)
                elif isinstance(v, (dict, bool)):
                    # errors_only: warnings never fail an in-place
                    # applicator (interp c_dependent_schemas propagates
                    # them as warnings, not as dependency failures)
                    pred = self._row_pred(v, dsp, errors_only=True)

                    def build_dv(_col, dtypes, _k=key, _p=pred):
                        trig = F.col(_k).isNotNull() if _k in dtypes \
                            else F.lit(False)
                        return F.when(trig,
                                      _p(dtypes).eqNullSafe(True)) \
                                .otherwise(F.lit(True))

                    self._row_check("dependencies", dsp,
                                    f"dependency schema for {key!r} "
                                    f"failed", build_dv)
        dsch = schema.get("dependentSchemas")
        if isinstance(dsch, dict) and _ge(self.draft, D2019):
            for key, s in dsch.items():
                if not isinstance(s, (dict, bool)):
                    continue
                # errors_only matches the claims path (line ~560) and the
                # interpreter: a warning inside the dependent schema must
                # not fail the dependency
                pred = self._row_pred(s, f"{sp}/dependentSchemas/{key}",
                                      errors_only=True)

                def build_ds(_col, dtypes, _k=key, _p=pred):
                    trig = F.col(_k).isNotNull() if _k in dtypes \
                        else F.lit(False)
                    return F.when(trig, _p(dtypes).eqNullSafe(True)) \
                            .otherwise(F.lit(True))

                self._row_check(
                    "dependentSchemas", f"{sp}/dependentSchemas/{key}",
                    f"dependent schema for {key!r} failed", build_ds)
        if _ge(self.draft, D2019):
            self._compile_root_unevaluated(schema, sp)

    def _root_claims(self, frag, sp, top=False):
        """Claim structure for a ROOT-level (flat-table) fragment: the
        columns are the object keys; branch preds are row-preds
        fn(dtypes) -> Column.  Mirrors _object_claims plus root
        if/then/else (claims from a successful `if` and its taken,
        successful arm — mini-model semantics)."""
        if not isinstance(frag, dict):
            return {"names": (), "patterns": (), "all_keys": False,
                    "branches": ()}
        unsafe = [k for k in frag if k in self._CLAIM_UNSAFE]
        if unsafe:
            self.unsupported.append(
                f"{sp} (unevaluated* claim algebra cannot model "
                f"{sorted(set(unsafe))})")
            return {"names": (), "patterns": (), "all_keys": False,
                    "branches": ()}
        props = frag.get("properties")
        names = tuple(props) if isinstance(props, dict) else ()
        branches = []
        for comb in ("allOf", "anyOf", "oneOf"):
            brs = frag.get(comb)
            if not isinstance(brs, list):
                continue
            preds = [self._row_pred(b, f"{sp}/{comb}/{i}",
                                    errors_only=True)
                     if isinstance(b, (dict, bool)) else None
                     for i, b in enumerate(brs)]
            gate = (self._one_of_row_gate(preds) if comb == "oneOf"
                    else None)
            for i, b in enumerate(brs):
                bsp = f"{sp}/{comb}/{i}"
                if b is True or b == {} or b is False \
                        or not isinstance(b, dict):
                    continue
                pred = preds[i]
                if gate is not None:
                    pred = (lambda dtypes, _p=preds[i], _g=gate:
                            _g(dtypes) & _p(dtypes))
                branches.append((pred, self._root_claims(b, bsp)))
        if isinstance(frag.get("if"), (dict, bool)):
            if_p = self._row_pred(frag["if"], f"{sp}/if",
                                  errors_only=True)
            branches.append((if_p, self._root_claims(frag["if"],
                                                     f"{sp}/if")))
            for arm, taken in (("then", True), ("else", False)):
                a = frag.get(arm)
                if not isinstance(a, (dict, bool)) \
                        or not isinstance(a, dict):
                    continue
                arm_p = self._row_pred(a, f"{sp}/{arm}",
                                       errors_only=True)

                def gated(dtypes, _i=if_p, _a=arm_p, _t=taken):
                    cond = _i(dtypes).eqNullSafe(True)
                    return (cond if _t else ~cond) \
                        & _a(dtypes).eqNullSafe(True)

                branches.append((gated,
                                 self._root_claims(a, f"{sp}/{arm}")))
        # dependentSchemas claims: triggered (key present) AND the
        # dependent schema succeeds (c_dependent_schemas parity)
        ds = frag.get("dependentSchemas")
        if isinstance(ds, dict):
            for k, s in ds.items():
                if not isinstance(s, dict) or s == {}:
                    continue
                dsp = f"{sp}/dependentSchemas/{k}"
                s_pred = self._row_pred(s, dsp, errors_only=True)

                def ds_gated(dtypes, _k=k, _p=s_pred):
                    trig = F.col(_k).isNotNull() if _k in dtypes \
                        else F.lit(False)
                    return trig & _p(dtypes).eqNullSafe(True)

                branches.append((ds_gated, self._root_claims(s, dsp)))
        pdeps = frag.get("propertyDependencies")
        if isinstance(pdeps, dict) and _ge(self.draft, DNEXT):
            for prop, m in pdeps.items():
                if not isinstance(m, dict):
                    continue
                for sval, s in m.items():
                    if not isinstance(s, dict) or s == {} \
                            or not isinstance(sval, str):
                        continue
                    psp = f"{sp}/propertyDependencies/{prop}/{sval}"
                    s_pred = self._row_pred(s, psp, errors_only=True)

                    def pd_gated(dtypes, _p=prop, _v=sval, _s=s_pred):
                        if _p in dtypes and isinstance(dtypes[_p],
                                                       T.StringType):
                            trig = F.col(_p) == F.lit(_v)
                        else:
                            trig = F.lit(False)
                        return trig.eqNullSafe(True) \
                            & _s(dtypes).eqNullSafe(True)

                    branches.append((pd_gated,
                                     self._root_claims(s, psp)))
        # a nested (non-top) unevaluatedProperties evaluates every
        # residual key itself, so a SUCCESSFUL branch carrying one has
        # claimed the whole key set — same shape as additionalProperties
        all_keys = "additionalProperties" in frag or (
            not top and "unevaluatedProperties" in frag)
        return {"names": names, "patterns": self._claim_patterns(frag),
                "all_keys": all_keys,
                "branches": tuple(branches)}

    def _root_claimed(self, claims, cname, dtypes):
        if claims["all_keys"] or cname in claims["names"] or any(
                rx.search(cname) for _, rx in claims["patterns"]):
            return F.lit(True)
        acc = F.lit(False)
        for pred, sub in claims["branches"]:
            acc = acc | (pred(dtypes).eqNullSafe(True)
                         & self._root_claimed(sub, cname, dtypes))
        return acc

    def _compile_root_unevaluated(self, schema, sp):
        """Root unevaluatedProperties over the FLAT table: the static
        column-set algebra — every column whose name no successful
        schema branch claims must be NULL (missing) or satisfy the
        unevaluatedProperties schema."""
        up = schema.get("unevaluatedProperties")
        if up is None or up is True or up == {}:
            return
        if "additionalProperties" in schema:
            return
        claims = self._root_claims(schema, sp, top=True)
        usp = f"{sp}/unevaluatedProperties"
        ub = None if up is False else (
            self._error_builders(up, usp) if isinstance(up, dict) else None)
        if up is not False and ub is None:
            return

        def build(_col, dtypes, _c=claims, _b=ub):
            oks = []
            for cname, cdt in dtypes.items():
                v = F.col(cname)
                ok = v.isNull() | self._root_claimed(_c, cname, dtypes)
                if _b is not None:
                    ok = ok | _reduce_and(
                        [bb(v, cdt).eqNullSafe(True) for bb in _b])
                oks.append(ok)
            return _reduce_and(oks)

        self._row_check("unevaluatedProperties", usp,
                        "column not evaluated by any schema", build)

    def _row_check(self, keyword, sp, msg, build):
        self.checks.append(Check(self._ROW_CHECK, keyword, sp, msg,
                                 "error", build, doc_path=""))

    def _row_pred(self, fragment, sp, errors_only=False):
        """Compile an object-schema fragment into a row-level predicate
        fn(dtypes) -> Column (True = row satisfies the fragment).
        ``errors_only`` skips warning-level checks (branch-success
        semantics: warnings never fail an in-place applicator)."""
        if fragment is True or fragment == {}:
            return lambda dtypes: F.lit(True)
        if fragment is False:
            return lambda dtypes: F.lit(False)
        inner = ColumnarValidator(fragment, draft=self.draft,
                                  format_assertion=self.format_assertion,
                                  strict=False, inline_refs=False)
        self.unsupported.extend(f"{sp}{u}" for u in inner.unsupported)
        checks = [c for c in inner.checks
                  if not errors_only or c.level == "error"]

        def pred(dtypes):
            parts = []
            for c in checks:
                if c.column == self._ROW_CHECK:
                    parts.append(c.build(None, dtypes))
                elif c.column not in dtypes:
                    # only TOP-LEVEL required (doc_path "") fails on an
                    # absent column; nested required passes (its parent
                    # property is missing)
                    parts.append(F.lit(not (c.keyword == "required"
                                            and c.doc_path == "")))
                else:
                    parts.append(c.build(F.col(c.column), dtypes[c.column])
                                  .eqNullSafe(True))
            return _reduce_and(parts)
        return pred

    def _required_builder(self):
        return lambda col, dt: col.isNotNull()

    def _add(self, column, keyword, sp, msg, level, build, null_passes=True,
             doc_path=None, value_of=None):
        if null_passes and keyword != "required":
            inner = build
            wrapped = lambda col, dt, _b=inner: (  # noqa: E731
                F.when(col.isNull(), F.lit(True)).otherwise(_b(col, dt)))
            wrapped._jvm = getattr(inner, "_jvm", True)
            build = wrapped
        self.checks.append(Check(column, keyword, sp, msg, level, build,
                                 doc_path, value_of))

    def _compile_property(self, name: str, sub, sp: str):
        if sub is True or sub == {}:
            return
        if sub is False:
            self._add(name, "false", sp, "schema is false", "error",
                      lambda col, dt: F.lit(False))
            return
        if not isinstance(sub, dict):
            return
        for k in sub:
            if k not in self._PROP_KEYWORDS:
                self.unsupported.append(f"{sp}/{k}")
        # unroll cut planted by inline.py at a productive $ref cycle:
        # the builder RAISES — but builders only run when the apply-time
        # type descent actually reaches this schema position, so tables
        # whose column types nest no deeper than the unroll stay pure
        # JVM and deeper-typed tables route to the Arrow interp
        # (reference lazy resolution analog: property.cljc:204-295)
        guard = sub.get(UNROLL_GUARD_KEY)
        if isinstance(guard, str):
            def build_guard(col, dt, _r=guard):
                raise UnsupportedKeyword(
                    f"recursive $ref {_r!r}: column type nests deeper "
                    f"than the unrolled plan (raise M3SPARK_REF_UNROLL "
                    f"or use m3spark.sparkval.validate_json)")
            build_guard._jvm = True
            self._add(name, "$ref", f"{sp}/$ref",
                      "recursion beyond unroll depth", "error",
                      build_guard, null_passes=False)
        draft = self.draft
        old = draft in (DRAFT3, DRAFT4)

        t = sub.get("type")
        if isinstance(t, str):
            self._add(name, "type", f"{sp}/type",
                      f"expected type {t}", "error",
                      lambda col, dt, _t=t: _type_ok(_t, dt, col))
        elif isinstance(t, list):
            names = [x for x in t if isinstance(x, str)]
            # draft-3 union types may embed SCHEMA members: the value
            # matches the union if it satisfies any member schema
            # (c_type parity; in draft-4+ schema members are
            # meta-invalid and never reach here)
            sub_preds = tuple(
                self._fragment_pred(s, f"{sp}/type/{i}")
                for i, s in enumerate(t)
                if isinstance(s, dict) and draft == DRAFT3)

            def build_type_union(col, dt, _n=tuple(names), _s=sub_preds):
                oks = [_type_ok(x, dt, col) for x in _n]
                oks += [p(col, dt).eqNullSafe(True) for p in _s]
                return _reduce_or(oks)

            self._add(name, "type", f"{sp}/type",
                      f"expected one of {names}", "error",
                      build_type_union,
                      null_passes=False if "null" in names else True)

        if isinstance(sub.get("enum"), list):
            vals = sub["enum"]

            def build_enum(col, dt, _v=tuple(vals)):
                ok = [x for x in _v if _value_compat(x, dt)]
                # incompatible-typed literals can never match this column
                if not ok:
                    return F.lit(False)
                preds = []
                scalars = [x for x in ok if not isinstance(x, list)
                           and not _needs_eq_path(x, dt)]
                if scalars:
                    preds.append(col.isin(*scalars))
                for x in ok:
                    if isinstance(x, list):
                        # element needing the exact path (huge int /
                        # float-vs-integral) -> per-element predicate
                        preds.append(_eq_lit_any(col, dt, x)
                                     if _lit_needs_eq(x, dt)
                                     else col.eqNullSafe(_array_lit(x, dt)))
                    elif _needs_eq_path(x, dt):
                        preds.append(_eq_lit(col, dt, x))
                return _reduce_or(preds)

            self._add(name, "enum", f"{sp}/enum",
                      f"value not in enum ({len(vals)} options)", "error",
                      build_enum)
        # const / contains joined the spec in draft-06: earlier drafts
        # treat them as unknown annotations (interp keyword tables)
        if "const" in sub and _ge(draft, DRAFT6):
            cv = sub["const"]

            def build_const(col, dt, _c=cv):
                if not _value_compat(_c, dt):
                    return F.lit(False)
                if isinstance(_c, list):
                    return (_eq_lit_any(col, dt, _c)
                            if _lit_needs_eq(_c, dt)
                            else col.eqNullSafe(_array_lit(_c, dt)))
                if _needs_eq_path(_c, dt):
                    return _eq_lit(col, dt, _c)
                return col == F.lit(_c)

            self._add(name, "const", f"{sp}/const",
                      "value does not equal const", "error", build_const)

        for kw, op in (("minimum", ">="), ("maximum", "<=")):
            if kw in sub and isinstance(sub[kw], (int, float)) \
                    and not isinstance(sub[kw], bool):
                bound = sub[kw]
                strict_excl = old and sub.get(
                    "exclusiveMinimum" if kw == "minimum"
                    else "exclusiveMaximum") is True
                eff = {">=": ">", "<=": "<"}[op] if strict_excl else op
                self._add(name, kw, f"{sp}/{kw}",
                          f"value is not {eff} {bound}", "error",
                          _numeric_only(_cmp_builder(eff, bound)))
        if not old:
            for kw, op in (("exclusiveMinimum", ">"), ("exclusiveMaximum", "<")):
                if kw in sub and isinstance(sub[kw], (int, float)) \
                        and not isinstance(sub[kw], bool):
                    self._add(name, kw, f"{sp}/{kw}",
                              f"value is not {op} {sub[kw]}", "error",
                              _numeric_only(_cmp_builder(op, sub[kw])))
        mof_kw = "divisibleBy" if draft == DRAFT3 else "multipleOf"
        if mof_kw in sub and isinstance(sub[mof_kw], (int, float)) \
                and not isinstance(sub[mof_kw], bool):
            d = Decimal(str(sub[mof_kw]))
            if d == 0:
                # interpreter semantics: nothing is a multiple of 0
                # (and ANSI mode would raise on `% 0`)
                self._add(name, mof_kw, f"{sp}/{mof_kw}",
                          f"value is not a multiple of {sub[mof_kw]}",
                          "error",
                          _numeric_only(lambda col, dt: F.lit(False)))
                d = None
            dt_tuple = d.as_tuple() if d is not None else None
            if d is not None and (
                    -dt_tuple.exponent > 12 or len(dt_tuple.digits) > 38):
                # divisor granularity beyond decimal(38,12): the JVM plan
                # cannot stay exact — route this schema to the interpreter
                raise UnsupportedKeyword(
                    f"{mof_kw} {d} exceeds decimal(38,12) granularity")
            if d is not None:
                p = abs(Fraction(d).numerator)
                self._add(name, mof_kw, f"{sp}/{mof_kw}",
                          f"value is not a multiple of {sub[mof_kw]}",
                          "error",
                          # exact via decimal arithmetic, never float modulo
                          # (m3 BigDecimal semantics: property.cljc:622-632)
                          _numeric_only(lambda col, dt, _d=d, _p=p:
                                        _multiple_of_pred(col, dt, _d, _p)))

        if "minLength" in sub:
            v = sub["minLength"]
            if isinstance(v, int) and not isinstance(v, bool) and v <= 1:
                # chars >= 1 iff bytes >= 1 (every codepoint is at
                # least one UTF-8 byte; v=0 is trivially true either
                # way) — octet_length skips the per-row UTF-8
                # codepoint walk F.length pays (~1s/10M rows on the
                # pages flagship)
                ml = lambda col, dt, _v=v: F.octet_length(col) >= _v
            else:
                ml = lambda col, dt, _v=v: F.length(col) >= _v
            self._add(name, "minLength", f"{sp}/minLength",
                      f"string shorter than {v}", "error",
                      _string_only(ml))
        if "maxLength" in sub:
            v = sub["maxLength"]
            self._add(name, "maxLength", f"{sp}/maxLength",
                      f"string longer than {v}", "error",
                      _string_only(lambda col, dt, _v=v: F.length(col) <= _v))
        if isinstance(sub.get("pattern"), str):
            pat = sub["pattern"]
            self._add(name, "pattern", f"{sp}/pattern",
                      f"string does not match {pat!r}", "error",
                      _string_only(_pattern_pred(pat, self._force_py)))
        if isinstance(sub.get("format"), str):
            fmt = sub["format"]
            level = "error" if self.format_assertion else "warning"
            if fmt in FORMATS:
                self._add(name, "format", f"{sp}/format",
                          f"not a valid {fmt}", level,
                          _string_only(_format_pred(fmt)))

        if _ge(draft, DRAFT7) and ("contentEncoding" in sub
                                   or "contentMediaType" in sub
                                   or "contentSchema" in sub):
            self._compile_content(name, sub, sp, draft)

        self._compile_array_keywords(name, sub, sp)
        self._compile_struct_keywords(name, sub, sp)
        self._compile_map_keywords(name, sub, sp)
        self._compile_dependent_keywords(name, sub, sp)
        if _ge(draft, D2019):
            self._compile_unevaluated_props(name, sub, sp)
            self._compile_unevaluated_items(name, sub, sp)

        # the combinator family joined in draft-04 (draft-03 has only
        # `extends`): interp keyword tables ignore them in d3
        for comb in ("allOf", "anyOf", "oneOf"):
            if isinstance(sub.get(comb), list) and _ge(draft, DRAFT4):
                self._compile_combinator(name, comb, sub[comb], f"{sp}/{comb}")
        # draft-3 extends = conjunction (allOf's ancestor); unknown and
        # ignored in every other draft
        if draft == DRAFT3 and sub.get("extends") is not None:
            ext = sub["extends"]
            subs = ext if isinstance(ext, list) else [ext]
            subs = [s for s in subs if isinstance(s, (dict, bool))]
            if subs:
                self._compile_combinator(name, "allOf", subs,
                                         f"{sp}/extends")
        if isinstance(sub.get("not"), dict) and _ge(draft, DRAFT4):
            inner = ColumnarValidator({"properties": {name: sub["not"]}},
                                      draft=self.draft,
                                      format_assertion=self.format_assertion,
                                      strict=False, inline_refs=False)
            self.unsupported.extend(inner.unsupported)
            builders = [c.build for c in inner.checks]
            self._add(name, "not", f"{sp}/not", "value matches 'not' schema",
                      "error",
                      lambda col, dt, _b=builders: ~_reduce_and(
                          [b(col, dt) for b in _b]))
        # property-level conditional (draft-7+), mirroring the root
        # lowering: when(if_ok, then_ok, else_ok) over this column
        if isinstance(sub.get("if"), (dict, bool)) and _ge(draft, DRAFT7):
            if_p = self._fragment_pred(sub["if"], f"{sp}/if")
            then_p = (self._fragment_pred(sub["then"], f"{sp}/then")
                      if isinstance(sub.get("then"), (dict, bool))
                      else None)
            else_p = (self._fragment_pred(sub["else"], f"{sp}/else")
                      if isinstance(sub.get("else"), (dict, bool))
                      else None)

            def build_ite(col, dt, _i=if_p, _t=then_p, _e=else_p):
                cond = _i(col, dt)
                t_ok = _t(col, dt) if _t is not None else F.lit(True)
                e_ok = _e(col, dt) if _e is not None else F.lit(True)
                return F.when(cond, t_ok).otherwise(e_ok)

            self._add(name, "if", f"{sp}/if",
                      "conditional (if/then/else) failed", "error",
                      build_ite)

    # -- content keywords (decode-then-validate, §2.9) -----------------------
    # Lowered to pure JVM expressions: base64 structural validity as one
    # rlike + is_valid_utf8(unbase64(...)), JSON well-formedness as
    # try_parse_json IS NOT NULL, and contentSchema as variant-typed
    # predicates over the decoded column — zero Python stages.  Interp
    # parity (core.py c_content, reference property.cljc:743-810): the
    # checker is registered under contentEncoding when present, so every
    # content violation carries that keyword's schema path; draft-07 =
    # errors, 2019+ = warnings; an invalid encoding suppresses the
    # downstream media-type / schema checks.

    def _compile_content(self, name: str, sub: dict, sp: str, draft):
        enc = sub.get("contentEncoding")
        mt = sub.get("contentMediaType")
        csch = sub.get("contentSchema")
        level = "error" if draft == DRAFT7 else "warning"
        reg = ("contentEncoding" if "contentEncoding" in sub
               else "contentMediaType" if "contentMediaType" in sub
               else "contentSchema")
        csp = f"{sp}/{reg}"
        b64 = enc == "base64"

        # shared decode subexpressions, bound once per row when this
        # validator's apply() runs (fallback: inline, for validators
        # hoisted into fragment predicates)
        vname = f"__m3var__{name}"
        bname = f"__m3b64__{name}"

        def _bok(col):
            if bname in self._avail:
                return F.col(bname)
            return _b64_ok(col)

        if b64:
            self.derived[bname] = (name,
                                   lambda _n=name: _b64_ok(F.col(_n)))
            self._add(name, "contentEncoding", csp, "not valid base64",
                      level, _string_only(lambda col, dt: _bok(col)))

        # contentSchema without contentMediaType still assumes JSON
        # content — reference property.cljc:796-801 (interp parity:
        # core.py c_content / c_content_schema)
        assume_json = (mt is None and isinstance(csch, (dict, bool))
                       and _ge(draft, D2019))
        if mt != "application/json" and not assume_json:
            return

        def dec(col):
            return F.unbase64(col).cast("string") if b64 else col

        def _var(col):
            if vname in self._avail:
                return F.col(vname)
            return F.try_parse_json(dec(col))

        # the b64 variant must stay NULL (not throw) on invalid base64:
        # unbase64 raises on malformed input, so the decode is gated on
        # the validity check — exactly the guard every consumer's
        # short-circuit (`~b64_ok | ...`, `b64_ok & ...`) already
        # implies, so substituting NULL is observationally identical
        self.derived[vname] = (
            name, lambda _n=name, _b=b64: (
                F.when(_b64_ok(F.col(_n)),
                       F.try_parse_json(
                           F.unbase64(F.col(_n)).cast("string")))
                if _b else F.try_parse_json(F.col(_n))))

        def json_ok(col, dt):
            ok = _var(col).isNotNull()
            # an invalid encoding already produced its own violation;
            # the interpreter returns early there (core.py c_content)
            return (~_bok(col) | ok) if b64 else ok

        if assume_json:
            # decode failure is a contentSchema warning (interp parity)
            self._add(name, "contentSchema", f"{sp}/contentSchema",
                      "content is not valid JSON", "warning",
                      _string_only(json_ok))
        else:
            self._add(name, "contentMediaType", csp,
                      "content is not valid JSON", level,
                      _string_only(json_ok))

        if isinstance(csch, (dict, bool)) and _ge(draft, D2019):
            for kw, spath, msg, inner in self._lower_content_schema(
                    csch, f"{csp}/contentSchema"):
                def gated(col, dt, _inner=inner):
                    v = _var(col)
                    gate = v.isNotNull()
                    if b64:
                        gate = _bok(col) & gate
                    return ~gate | _inner(v)
                # interp parity: every contentSchema violation is a
                # warning regardless of draft (core.py c_content)
                self._add(name, kw, spath, msg, "warning",
                          _string_only(gated))

    _CONTENT_SCALARS = {"type", "minLength", "maxLength", "pattern",
                        "minimum", "maximum", "const", "enum"}
    _CONTENT_ANNOTATIONS = {"title", "description", "$comment", "default",
                            "examples", "deprecated", "readOnly",
                            "writeOnly"}
    _CONTENT_KEYWORDS = _CONTENT_SCALARS | _CONTENT_ANNOTATIONS | {
        "properties", "required", "items", "minItems", "maxItems",
        "allOf", "anyOf", "oneOf", "not", "if", "then", "else"}

    def _lower_content_schema(self, csch, sp: str) -> list:
        """Lower a contentSchema fragment to predicates over a VARIANT
        column (the try_parse_json of the decoded content) — RECURSIVE
        over nested objects (``$.a.b`` paths) and arrays (cast to
        ``array<variant>`` + forall), so realistic contentSchemas stay
        0-Python at any depth.  Keywords outside the supported subset
        route the schema to the interpreter via UnsupportedKeyword (the
        compiler's standing escape hatch)."""
        return self._variant_preds(csch, sp)

    def _check_variant_key(self, k, sp):
        if not isinstance(k, str) or not k.isidentifier():
            self.unsupported.append(
                f"{sp} (contentSchema key {k!r} needs JSON-pointer "
                f"escaping in a variant path)")

    def _variant_preds(self, frag, sp: str) -> list:
        """(keyword, schema_path, message, fn(variant) -> ok) entries
        for a contentSchema fragment applied to a VARIANT value."""
        if frag is True or frag == {}:
            return []
        if frag is False:
            return [("false", sp, "schema is false: nothing is valid",
                     lambda v: F.lit(False))]
        if not isinstance(frag, dict):
            return []
        out = []
        for k in frag:
            if k not in self._CONTENT_KEYWORDS:
                self.unsupported.append(f"{sp}/{k} (contentSchema subset)")
        t = frag.get("type")
        if isinstance(t, str):
            out.append(("type", f"{sp}/type", f"expected type {t}",
                        lambda v, _t=t: _variant_type_ok(v, _t)))
        for kw, keep in (("minLength", lambda s, n: F.length(s) >= n),
                         ("maxLength", lambda s, n: F.length(s) <= n)):
            if isinstance(frag.get(kw), int):
                n = frag[kw]
                out.append((
                    kw, f"{sp}/{kw}",
                    f"string {'shorter' if kw == 'minLength' else 'longer'}"
                    f" than {n}",
                    lambda v, _n=n, _keep=keep:
                    ~_variant_is(v, "STRING")
                    | _keep(_variant_cast(v, "string"), _n)))
        if isinstance(frag.get("pattern"), str):
            pat = frag["pattern"]
            pred = _pattern_pred(pat, self._force_py)
            if not getattr(pred, "_jvm", True):
                self.unsupported.append(
                    f"{sp}/pattern (python-only regex inside "
                    f"contentSchema)")
            else:
                out.append((
                    "pattern", f"{sp}/pattern",
                    f"string does not match {pat!r}",
                    lambda v, _p=pred: ~_variant_is(v, "STRING")
                    | _p(_variant_cast(v, "string"), T.StringType())))
        for kw, op in (("minimum", ">="), ("maximum", "<=")):
            b = frag.get(kw)
            if isinstance(b, (int, float)) and not isinstance(b, bool):
                out.append((
                    kw, f"{sp}/{kw}", f"value is not {op} {b}",
                    lambda v, _b=b, _op=op: ~_variant_is_number(v)
                    | (_variant_cast(v, "double") >= _b if _op == ">="
                       else _variant_cast(v, "double") <= _b)))
        if "const" in frag or isinstance(frag.get("enum"), list):
            vals = ([frag["const"]] if "const" in frag
                    else list(frag["enum"]))
            kw = "const" if "const" in frag else "enum"
            if not all(isinstance(x, (str, int, float, bool))
                       or x is None for x in vals):
                self.unsupported.append(
                    f"{sp}/{kw} (non-scalar literal inside contentSchema)")
            else:
                out.append((
                    kw, f"{sp}/{kw}",
                    ("value does not equal const" if kw == "const"
                     else f"value not in enum ({len(vals)} options)"),
                    lambda v, _vals=tuple(vals):
                    _variant_elem_in(v, _vals)))
        req = frag.get("required")
        if isinstance(req, list):
            for k in req:
                self._check_variant_key(k, sp)
                out.append((
                    "required", f"{sp}/required",
                    f"required property {k!r} missing",
                    # required binds only on objects (presence semantics)
                    lambda v, _k=k: ~_variant_is(v, "OBJECT")
                    | F.try_variant_get(v, f"$.{_k}", "variant")
                       .isNotNull()))
        props = frag.get("properties")
        if isinstance(props, dict):
            for pk, psub in props.items():
                self._check_variant_key(pk, sp)
                for kw, spath, msg, p in self._variant_preds(
                        psub, f"{sp}/properties/{pk}"):
                    # missing field (or non-object parent) passes
                    out.append((kw, spath, msg, _field_lift(pk, p)))
        items = frag.get("items")
        if isinstance(items, (dict, bool)):
            for kw, spath, msg, p in self._variant_preds(
                    items, f"{sp}/items"):
                out.append((kw, spath, msg, _items_lift(p)))
        for kw, op in (("minItems", ">="), ("maxItems", "<=")):
            n = frag.get(kw)
            if isinstance(n, int) and not isinstance(n, bool):
                out.append((
                    kw, f"{sp}/{kw}",
                    f"{'fewer' if kw == 'minItems' else 'more'} than {n} "
                    f"items",
                    lambda v, _n=n, _op=op: _variant_arr(v).isNull()
                    | (F.size(_variant_arr(v)) >= _n if _op == ">="
                       else F.size(_variant_arr(v)) <= _n)))
        # in-place applicators over the same variant value (r6; the
        # reference composes them freely inside contentSchema,
        # property.cljc:788-810).  $ref arrives here already expanded:
        # the root-level inline pre-pass walks contentSchema as a schema
        # position, and anything it could not resolve stays a $ref key,
        # which the subset check above routes to the interp.  allOf
        # keeps per-keyword granularity; anyOf/oneOf/not/if-then-else
        # compose to one entry each (the interp forwards inner branch
        # errors — a declared granularity bound, verdicts identical).
        allof = frag.get("allOf")
        if isinstance(allof, list):
            for i, br in enumerate(allof):
                out.extend(self._variant_preds(br, f"{sp}/allOf/{i}"))
        anyof = frag.get("anyOf")
        if isinstance(anyof, list):
            oks = tuple(self._variant_all(br, f"{sp}/anyOf/{i}")
                        for i, br in enumerate(anyof))
            out.append((
                "anyOf", f"{sp}/anyOf",
                f"no schema of {len(anyof)} matched",
                lambda v, _o=oks: _reduce_or([f(v) for f in _o])))
        oneof = frag.get("oneOf")
        if isinstance(oneof, list):
            oks = tuple(self._variant_all(br, f"{sp}/oneOf/{i}")
                        for i, br in enumerate(oneof))

            def one_of_ok(v, _o=oks):
                n = None
                for f in _o:
                    x = F.when(f(v), 1).otherwise(0)
                    n = x if n is None else n + x
                return (n if n is not None else F.lit(0)) == 1
            out.append((
                "oneOf", f"{sp}/oneOf",
                f"expected exactly 1 of {len(oneof)} schemas to match",
                one_of_ok))
        notf = frag.get("not")
        if isinstance(notf, (dict, bool)):
            okn = self._variant_all(notf, f"{sp}/not")
            out.append(("not", f"{sp}/not", "value matches 'not' schema",
                        lambda v, _f=okn: ~_f(v)))
        ifs = frag.get("if")
        if isinstance(ifs, (dict, bool)):
            iok = self._variant_all(ifs, f"{sp}/if")
            # then/else branches keep inner per-keyword identity, each
            # entry gated on the if outcome; schema paths mirror the
            # interpreter's literal "/if/../then" form (c_if)
            for arm, taken in (("then", True), ("else", False)):
                if not isinstance(frag.get(arm), (dict, bool)):
                    continue
                for kw, spath, msg, p in self._variant_preds(
                        frag[arm], f"{sp}/if/../{arm}"):
                    out.append((
                        kw, spath, msg,
                        lambda v, _i=iok, _p=p, _t=taken:
                        (~_i(v) if _t else _i(v)) | _p(v)))
        return out

    def _variant_all(self, frag, sp: str):
        """Conjunction of a contentSchema fragment's predicates as one
        fn(variant) -> ok Column (empty/true fragment folds to lit
        True)."""
        preds = tuple(p for _, _, _, p in self._variant_preds(frag, sp))

        def ok(v, _ps=preds):
            if not _ps:
                return F.lit(True)
            return _reduce_and([p(v) for p in _ps])
        return ok

    def _nested_builders(self, frag, sp) -> list:
        """Compile a subschema fragment into JVM-only builders usable
        inside higher-order-function lambdas (SURVEY §2.5 Spark
        primitives: forall/exists/filter).  Pandas-UDF-backed checks
        cannot execute per-element, so they are flagged unsupported."""
        inner = ColumnarValidator({"properties": {"_e": frag}},
                                  draft=self.draft,
                                  format_assertion=self.format_assertion,
                                  strict=False, inline_refs=False)
        self.unsupported.extend(
            u.replace("/properties/_e", sp) for u in inner.unsupported)
        builders = []
        for c in inner.checks:
            if not getattr(c.build, "_jvm", True):
                self.unsupported.append(
                    f"{sp}/{c.keyword} (pandas-UDF check inside nested "
                    f"element — not lowerable to a HOF lambda)")
                continue
            builders.append(c.build)
        return builders

    def _compile_array_keywords(self, name: str, sub: dict, sp: str):
        """Array keywords over typed array<T> columns as higher-order
        functions (m3 analogs: property.cljc:1156-1331; SURVEY §2.5)."""
        def arr_guard(build):
            def guarded(col, dt):
                if not isinstance(dt, T.ArrayType):
                    return F.lit(True)  # type keyword reports mismatches
                return build(col, dt.elementType)
            return guarded

        if "minItems" in sub:
            v = sub["minItems"]
            self._add(name, "minItems", f"{sp}/minItems",
                      f"fewer than {v} items", "error",
                      arr_guard(lambda col, et, _v=v: F.size(col) >= _v))
        if "maxItems" in sub:
            v = sub["maxItems"]
            self._add(name, "maxItems", f"{sp}/maxItems",
                      f"more than {v} items", "error",
                      arr_guard(lambda col, et, _v=v: F.size(col) <= _v))
        if sub.get("uniqueItems") is True:
            self._add(name, "uniqueItems", f"{sp}/uniqueItems",
                      "array items are not unique", "error",
                      arr_guard(lambda col, et:
                                F.size(col) == F.size(F.array_distinct(col))))
        items = sub.get("items")
        # items applies past the prefixItems window only in 2020-12/next
        # (prefixItems is an unknown keyword before then — interp
        # c_items gates the offset identically, schema/core.py:1335)
        pfx_offset = len(sub["prefixItems"]) \
            if (self.draft in (D2020, DNEXT)
                and isinstance(sub.get("prefixItems"), list)) else 0
        if items is False:
            # 2020-12: items applies only past the prefixItems window,
            # so false forbids elements BEYOND the prefix, not all
            n_pfx = pfx_offset
            self._add(name, "items", f"{sp}/items",
                      "items: false allows no elements past the prefix",
                      "error",
                      arr_guard(lambda col, et, _n=n_pfx:
                                F.size(col) <= _n))
        elif isinstance(items, dict):
            builders = self._nested_builders(items, f"{sp}/items")
            n_prefix = pfx_offset
            if builders:
                def build_items(col, et, _b=tuple(builders), _n=n_prefix):
                    target = col if _n == 0 else F.slice(
                        col, _n + 1,
                        F.greatest(F.size(col) - _n, F.lit(0)))
                    return F.forall(target, lambda x: _reduce_and(
                        [b(x, et) for b in _b]))
                self._add(name, "items", f"{sp}/items",
                          "array element violates items schema", "error",
                          arr_guard(build_items))
        # tuple-form positional schemas: prefixItems (2020-12) or
        # items-as-array (draft<=2019, with additionalItems for the rest)
        tuple_kw = None
        prefix = sub.get("prefixItems")
        if isinstance(prefix, list):
            tuple_kw = "prefixItems"
        elif isinstance(sub.get("items"), list):
            prefix = sub["items"]
            tuple_kw = "items"
        if tuple_kw and all(isinstance(s, (dict, bool)) for s in prefix):
            per_pos = [self._nested_builders(s, f"{sp}/{tuple_kw}/{i}")
                       if isinstance(s, dict) else
                       ([] if s is True else
                        [lambda col, dt: F.lit(False)])
                       for i, s in enumerate(prefix)]

            def build_prefix(col, et, _pp=per_pos):
                ok = F.lit(True)
                for i, builders in enumerate(_pp):
                    if not builders:
                        continue
                    elem = F.element_at(col, i + 1)
                    pos_ok = F.when(
                        F.size(col) <= i, F.lit(True)).otherwise(
                        _reduce_and([b(elem, et) for b in builders]))
                    ok = ok & pos_ok
                return ok

            self._add(name, tuple_kw, f"{sp}/{tuple_kw}",
                      f"positional element violates {tuple_kw}", "error",
                      arr_guard(build_prefix))

        addl = sub.get("additionalItems")
        if isinstance(sub.get("items"), list) and addl is not None \
                and (isinstance(addl, dict) or addl is False):
            n = len(sub["items"])
            if addl is False:
                self._add(name, "additionalItems", f"{sp}/additionalItems",
                          f"more than {n} items (additionalItems: false)",
                          "error",
                          arr_guard(lambda col, et, _n=n:
                                    F.size(col) <= _n))
            else:
                builders = self._nested_builders(
                    addl, f"{sp}/additionalItems")
                if builders:
                    def build_ai(col, et, _b=tuple(builders), _n=n):
                        rest = F.slice(col, _n + 1,
                                       F.greatest(F.size(col) - _n,
                                                  F.lit(0)))
                        return F.forall(rest, lambda x: _reduce_and(
                            [b(x, et) for b in _b]))
                    self._add(name, "additionalItems",
                              f"{sp}/additionalItems",
                              "element past the tuple prefix violates "
                              "additionalItems", "error",
                              arr_guard(build_ai))

        contains = sub.get("contains")
        if isinstance(contains, (dict, bool)) and _ge(self.draft, DRAFT6):
            if contains is True or contains == {}:
                builders = []         # matches every element
            elif contains is False:
                builders = [lambda col, dt: F.lit(False)]  # matches none
            else:
                builders = self._nested_builders(contains,
                                                 f"{sp}/contains")
            min_c = sub.get("minContains", 1)
            max_c = sub.get("maxContains")

            def build(col, et, _b=tuple(builders), _lo=min_c, _hi=max_c):
                cnt = F.size(F.filter(col, lambda x: _reduce_and(
                    [b(x, et) for b in _b])))
                ok = cnt >= F.lit(int(_lo))
                if _hi is not None:
                    ok = ok & (cnt <= F.lit(int(_hi)))
                return ok

            self._add(name, "contains", f"{sp}/contains",
                      f"contains-match count outside [{min_c}, "
                      f"{max_c if max_c is not None else 'inf'}]", "error",
                      arr_guard(build))

    def _compile_map_keywords(self, name: str, sub: dict, sp: str):
        """Object keywords over typed map<string,T> columns as HOFs
        (SURVEY §2.4 Spark primitives: map_keys/map_filter/forall/
        array_except).  Struct columns are handled statically in
        _compile_struct_keywords; these checks no-op on non-map types."""
        def map_guard(build):
            def guarded(col, dt):
                if not isinstance(dt, T.MapType):
                    return F.lit(True)
                return build(col, dt.valueType)
            return guarded

        if "minProperties" in sub:
            v = sub["minProperties"]
            self._add(name, "minProperties", f"{sp}/minProperties",
                      f"fewer than {v} properties", "error",
                      map_guard(lambda col, vt, _v=v:
                                F.size(F.map_keys(col)) >= _v))
        if "maxProperties" in sub:
            v = sub["maxProperties"]
            self._add(name, "maxProperties", f"{sp}/maxProperties",
                      f"more than {v} properties", "error",
                      map_guard(lambda col, vt, _v=v:
                                F.size(F.map_keys(col)) <= _v))
        pn = sub.get("propertyNames")
        if isinstance(pn, dict):
            builders = self._nested_builders(pn, f"{sp}/propertyNames")
            if builders:
                self._add(name, "propertyNames", f"{sp}/propertyNames",
                          "property name violates schema", "error",
                          map_guard(lambda col, vt, _b=tuple(builders):
                                    F.forall(F.map_keys(col),
                                             lambda k: _reduce_and(
                                                 [b(k, T.StringType())
                                                  for b in _b]))))
        pp = sub.get("patternProperties")
        if isinstance(pp, dict):
            for pat, pschema in pp.items():
                if not isinstance(pschema, dict):
                    continue
                builders = self._nested_builders(
                    pschema, f"{sp}/patternProperties/{pat}")
                if not builders:
                    continue

                def build_pp(col, vt, _pat=pat, _b=tuple(builders)):
                    # values whose KEY matches the (unanchored) pattern
                    matched = F.map_filter(
                        col, lambda k, v: k.rlike(_pat))
                    return F.forall(F.map_values(matched),
                                    lambda v: _reduce_and(
                                        [b(v, vt) for b in _b]))
                self._add(name, "patternProperties",
                          f"{sp}/patternProperties/{pat}",
                          f"value under key matching {pat!r} violates "
                          f"schema", "error", map_guard(build_pp))
        ap = sub.get("additionalProperties")
        if ap is not None and (isinstance(ap, dict) or ap is False):
            named = [k for k in (sub.get("properties") or {})]
            pats = list(sub.get("patternProperties") or {})

            def _not_matching(pat):
                return lambda k: ~k.rlike(pat)

            def unmatched_keys(col):
                keys = F.map_keys(col)
                if named:
                    keys = F.array_except(
                        keys, F.array(*[F.lit(k) for k in named]))
                for pat in pats:
                    keys = F.filter(keys, _not_matching(pat))
                return keys

            if ap is False:
                self._add(name, "additionalProperties",
                          f"{sp}/additionalProperties",
                          "additional properties are not allowed", "error",
                          map_guard(lambda col, vt:
                                    F.size(unmatched_keys(col)) == 0))
            else:
                builders = self._nested_builders(
                    ap, f"{sp}/additionalProperties")
                if builders:
                    def build_ap(col, vt, _b=tuple(builders)):
                        return F.forall(
                            unmatched_keys(col),
                            lambda k: _reduce_and(
                                [b(F.element_at(col, k), vt) for b in _b]))
                    self._add(name, "additionalProperties",
                              f"{sp}/additionalProperties",
                              "additional property violates schema",
                              "error", map_guard(build_ap))

    @staticmethod
    def _obj_present(col: Column, dt: T.DataType, k: str):
        """Presence of key ``k`` in an object-typed column, or None when
        the column isn't an object (dependent keywords then no-op)."""
        if isinstance(dt, T.StructType):
            return (col.getField(k).isNotNull()
                    if k in dt.fieldNames() else F.lit(False))
        if isinstance(dt, T.MapType):
            return F.map_contains_key(col, F.lit(k))
        return None

    @staticmethod
    def _obj_strval_eq(col: Column, dt: T.DataType, k: str, v: str):
        """key ``k`` holds STRING value ``v`` (propertyDependencies
        trigger), or None when the column isn't an object."""
        if isinstance(dt, T.StructType):
            if k in dt.fieldNames() \
                    and isinstance(dt[k].dataType, T.StringType):
                return col.getField(k).eqNullSafe(F.lit(v))
            return F.lit(False)
        if isinstance(dt, T.MapType):
            if isinstance(dt.valueType, T.StringType):
                return F.element_at(col, F.lit(k)).eqNullSafe(F.lit(v))
            return F.lit(False)
        return None

    def _compile_dependent_keywords(self, name: str, sub: dict, sp: str):
        """Property-level dependentRequired / dependentSchemas (2019+)
        and the combined pre-2019 `dependencies` over struct/map columns
        (interp parity: c_dependencies / c_dependent_required /
        c_dependent_schemas; reference property.cljc:812-874)."""
        draft = self.draft

        def req_check(kw, key, needs, dsp):
            def build(col, dt, _k=key, _n=tuple(needs)):
                trig = self._obj_present(col, dt, _k)
                if trig is None:
                    return F.lit(True)
                alln = _reduce_and(
                    [self._obj_present(col, dt, n) for n in _n])
                return F.when(trig, alln).otherwise(F.lit(True))
            self._add(name, kw, dsp,
                      f"property {key!r} requires {list(needs)!r}",
                      "error", build)

        def schema_check(kw, key, s, dsp):
            # errors-only (in-place applicator branch semantics): a
            # warning inside the dependent schema never fails it
            pred = self._fragment_pred(s, dsp)

            def build(col, dt, _k=key, _p=pred):
                trig = self._obj_present(col, dt, _k)
                if trig is None:
                    return F.lit(True)
                return F.when(trig, _p(col, dt).eqNullSafe(True)) \
                        .otherwise(F.lit(True))
            self._add(name, kw, dsp,
                      f"dependent schema for {key!r} failed",
                      "error", build)

        dr = sub.get("dependentRequired")
        if isinstance(dr, dict) and _ge(draft, D2019):
            for k, needs in dr.items():
                if isinstance(needs, list):
                    req_check("dependentRequired", k,
                              [x for x in needs if isinstance(x, str)],
                              f"{sp}/dependentRequired/{k}")
        ds = sub.get("dependentSchemas")
        if isinstance(ds, dict) and _ge(draft, D2019):
            for k, s in ds.items():
                if isinstance(s, (dict, bool)):
                    schema_check("dependentSchemas", k, s,
                                 f"{sp}/dependentSchemas/{k}")
        deps = sub.get("dependencies")
        if isinstance(deps, dict) and not _ge(draft, D2019):
            for k, v in deps.items():
                dsp = f"{sp}/dependencies/{k}"
                if isinstance(v, str):
                    req_check("dependencies", k, [v], dsp)
                elif isinstance(v, list):
                    req_check("dependencies", k,
                              [x for x in v if isinstance(x, str)], dsp)
                elif isinstance(v, (dict, bool)):
                    schema_check("dependencies", k, v, dsp)
        # draft-next propertyDependencies: key k holding string value v
        # triggers the (k, v) schema (c_property_dependencies parity)
        pdeps = sub.get("propertyDependencies")
        if isinstance(pdeps, dict) and _ge(draft, DNEXT):
            for prop, m in pdeps.items():
                if not isinstance(m, dict):
                    continue
                for sval, s in m.items():
                    if not isinstance(s, (dict, bool)) \
                            or not isinstance(sval, str):
                        continue
                    psp = f"{sp}/propertyDependencies/{prop}/{sval}"
                    pred = self._fragment_pred(s, psp)

                    def build_pd(col, dt, _p=prop, _v=sval, _pred=pred):
                        trig = self._obj_strval_eq(col, dt, _p, _v)
                        if trig is None:
                            return F.lit(True)
                        return F.when(trig,
                                      _pred(col, dt).eqNullSafe(True)) \
                                .otherwise(F.lit(True))

                    self._add(name, "propertyDependencies", psp,
                              f"dependent schema for {prop}={sval!r} "
                              f"failed", "error", build_pd)

    def _surface_nested_property(self, name: str, pname: str, pschema,
                                 sp: str):
        """Compile a nested property's subschema and surface EVERY inner
        check as its own top-level Check — keyword, schema_path, message
        and level survive verbatim; the doc_path composes the RFC 6901
        pointer through the nesting; the offending value renders the
        LEAF via a getField navigator.  Recursion composes: the inner
        validator surfaced ITS nested properties the same way, so a
        check at any struct depth keeps exact violation identity
        (north-star row shape (key, keyword, json-pointer, message);
        interp parity with c_properties' join_pointer paths).  A parent
        missing from the row — NULL struct, field absent from the column
        type, or the whole column absent from the table — passes every
        surfaced check (presence semantics)."""
        from m3spark.schema.uris import join_pointer

        psp = f"{sp}/properties/{pname}"
        inner = ColumnarValidator({"properties": {"_e": pschema}},
                                  draft=self.draft,
                                  format_assertion=self.format_assertion,
                                  force_python_patterns=self._force_py,
                                  strict=False, inline_refs=False)
        self.unsupported.extend(u.replace("/properties/_e", psp, 1)
                                for u in inner.unsupported)
        for ic in inner.checks:
            if not getattr(ic.build, "_jvm", True):
                self.unsupported.append(
                    f"{psp}/{ic.keyword} (pandas-UDF check inside a "
                    f"nested field — not lowerable to getField descent)")
                continue

            def build(col, dt, _p=pname, _b=ic.build):
                f, ft = _struct_field(col, dt, _p)
                if f is None:
                    return F.lit(True)
                return F.when(f.isNull(), F.lit(True)).otherwise(_b(f, ft))
            build._jvm = True

            def value_of(col, dt, _p=pname, _iv=ic.value_of):
                f, ft = _struct_field(col, dt, _p)
                if f is None:
                    return F.lit(None)
                return _iv(f, ft) if _iv is not None else f

            idp = ic.doc_path if ic.doc_path is not None else "/_e"
            self.checks.append(Check(
                name, ic.keyword,
                ic.schema_path.replace("/properties/_e", psp, 1),
                ic.message, ic.level, build,
                doc_path=join_pointer("", name, pname) + idp[len("/_e"):],
                value_of=value_of))

    def _compile_struct_keywords(self, name: str, sub: dict, sp: str):
        """Object keywords over typed struct columns: per-field predicate
        via getField (m3 analog: property.cljc:992-1052; SURVEY §2.4)."""
        props = sub.get("properties")
        req = sub.get("required")
        if isinstance(req, list):
            for k in req:
                def build_req(col, dt, _k=k):
                    # a NULL struct means the whole property is missing:
                    # nested required does not apply (presence semantics)
                    if isinstance(dt, T.StructType):
                        inner = (F.lit(False) if _k not in dt.fieldNames()
                                 else col.getField(_k).isNotNull())
                    elif isinstance(dt, T.MapType):
                        inner = F.map_contains_key(col, F.lit(_k))
                    else:
                        return F.lit(True)
                    return F.when(col.isNull(), F.lit(True)).otherwise(inner)

                def req_value(col, dt):
                    # interp parity: the violation's value is the OBJECT
                    # missing the key, compact-JSON rendered with null
                    # fields omitted (= absent, the typed-column
                    # convention) — matches _fmt_value's separators
                    if isinstance(dt, (T.StructType, T.MapType)):
                        return F.to_json(col)
                    return F.lit(None)
                self._add(name, "required", f"{sp}/required",
                          f"required property {k!r} missing", "error",
                          build_req, doc_path=f"/{name}",
                          value_of=req_value)
        if isinstance(props, dict):
            for pname, pschema in props.items():
                if not isinstance(pschema, dict):
                    continue
                self._surface_nested_property(name, pname, pschema, sp)

        # patternProperties / additionalProperties over STRUCT columns:
        # field names are static, so pattern matching happens at compile
        # time with the engine's own ECMA matcher (the map-typed path in
        # _compile_map_keywords does the same dynamically via rlike)
        import re as _re

        from m3spark.schema.core import compile_ecma_pattern

        pp = sub.get("patternProperties")
        pat_rx = []
        if isinstance(pp, dict):
            for pat, pschema in pp.items():
                try:
                    rx = compile_ecma_pattern(pat)
                except _re.error:
                    continue  # ECMA-invalid: keyword ignored (c_pattern)
                pat_rx.append(rx)
                if pschema is True or pschema == {}:
                    continue
                psp = f"{sp}/patternProperties/{pat}"
                builders = ((lambda col, dt: F.lit(False),) \
                    if pschema is False else
                    tuple(self._nested_builders(pschema, psp))) \
                    if isinstance(pschema, (dict, bool)) else ()
                if not builders:
                    continue

                def build_pp(col, dt, _rx=rx, _b=builders):
                    if not isinstance(dt, T.StructType):
                        return F.lit(True)
                    oks = []
                    for f in dt.fields:
                        if not _rx.search(f.name):
                            continue
                        v = col.getField(f.name)
                        oks.append(v.isNull() | _reduce_and(
                            [bb(v, f.dataType).eqNullSafe(True)
                             for bb in _b]))
                    return _reduce_and(oks)

                self._add(name, "patternProperties", psp,
                          f"value under key matching {pat!r} violates "
                          f"schema", "error", build_pp)

        ap = sub.get("additionalProperties")
        if ap is not None and (isinstance(ap, dict) or ap is False):
            named = frozenset(props) if isinstance(props, dict) else \
                frozenset()
            ap_builders = () if ap is False else \
                tuple(self._nested_builders(
                    ap, f"{sp}/additionalProperties"))

            def build_ap_struct(col, dt, _n=named, _rx=tuple(pat_rx),
                                _b=ap_builders, _false=ap is False):
                if not isinstance(dt, T.StructType):
                    return F.lit(True)
                oks = []
                for f in dt.fields:
                    if f.name in _n or any(rx.search(f.name)
                                           for rx in _rx):
                        continue
                    v = col.getField(f.name)
                    if _false:
                        oks.append(v.isNull())
                    elif _b:
                        oks.append(v.isNull() | _reduce_and(
                            [bb(v, f.dataType).eqNullSafe(True)
                             for bb in _b]))
                return _reduce_and(oks)

            self._add(name, "additionalProperties",
                      f"{sp}/additionalProperties",
                      "additional properties are not allowed" if ap is False
                      else "additional property violates schema",
                      "error", build_ap_struct)

    # -- unevaluatedProperties / unevaluatedItems (§2.4/§2.5 hard part) ------
    # Static key-set algebra (SURVEY §7 hard-part 1): each in-place
    # applicator branch contributes its evaluated key-set GATED on the
    # branch succeeding — `when(branch_ok, keys)` unioned, then
    # `array_except(present_keys, evaluated)` — all pure JVM Column
    # expressions.  Annotation semantics mirror the reference
    # (property.cljc:268-293, 1083-1095) and the spec-derived mini-model
    # in tests/test_unevaluated_matrix.py: adjacent
    # properties/patternProperties/additionalProperties claim
    # unconditionally; allOf/anyOf/oneOf + if/then/else +
    # dependentSchemas branches claim only when that branch individually
    # succeeds (errors only — warnings never fail a branch); a branch
    # carrying its own nested unevaluatedProperties/unevaluatedItems
    # claims EVERYTHING on success (the nested keyword evaluates every
    # residual key/item itself); 2019+ `dependencies` is not a keyword
    # (interp drops it from the table) so it neither validates nor
    # claims; draft-next propertyDependencies claims like
    # dependentSchemas (string-trigger AND schema success); draft-3
    # extends never coexists with unevaluated* (different eras) and is
    # unknown-ignored in 2019+.  Acyclic local $ref is gone before
    # compilation (inline_local_refs).  Only the REFERENCE family the
    # inliner could not resolve still routes to the Arrow interp via
    # UnsupportedKeyword, the compiler's standing escape hatch: $ref
    # left by a cycle or external target, $dynamicRef, $recursiveRef.

    _CLAIM_UNSAFE = frozenset({
        "$ref", "$dynamicRef", "$recursiveRef",
    })

    def _claim_patterns(self, frag):
        """(java_rlike, compiled_python) pairs for patternProperties —
        ECMA-invalid patterns are ignored by both engines."""
        import re as _re

        from m3spark.schema.core import compile_ecma_pattern
        from m3spark.schema.ecma import java_pattern

        out = []
        pp = frag.get("patternProperties")
        if isinstance(pp, dict):
            for pat in pp:
                try:
                    out.append((java_pattern(pat),
                                compile_ecma_pattern(pat)))
                except _re.error:
                    continue
        return tuple(out)

    def _object_claims(self, frag, name, sp, top=False):
        """{names, patterns, all_keys, branches} claim structure for an
        object fragment over a struct/map COLUMN; branch preds are
        fn(col, dt) -> Column."""
        if not isinstance(frag, dict):
            return {"names": (), "patterns": (), "all_keys": False,
                    "branches": ()}
        unsafe = [k for k in frag if k in self._CLAIM_UNSAFE]
        if unsafe:
            self.unsupported.append(
                f"{sp} (unevaluated* claim algebra cannot model "
                f"{sorted(set(unsafe))})")
            return {"names": (), "patterns": (), "all_keys": False,
                    "branches": ()}
        props = frag.get("properties")
        names = tuple(props) if isinstance(props, dict) else ()
        branches = []
        for comb in ("allOf", "anyOf", "oneOf"):
            brs = frag.get(comb)
            if not isinstance(brs, list):
                continue
            preds = [self._fragment_pred(b, f"{sp}/{comb}/{i}")
                     if isinstance(b, (dict, bool)) else None
                     for i, b in enumerate(brs)]
            # interp parity (core.py c_one_of): oneOf contributes
            # annotations ONLY when exactly one branch succeeds —
            # failing the keyword drops every branch's claims
            gate = (self._one_of_gate(preds) if comb == "oneOf"
                    else None)
            for i, b in enumerate(brs):
                bsp = f"{sp}/{comb}/{i}"
                if b is True or b == {} or b is False \
                        or not isinstance(b, dict):
                    continue  # claims nothing / never succeeds
                pred = preds[i]
                if gate is not None:
                    pred = (lambda col, dt, _p=preds[i], _g=gate:
                            _g(col, dt) & _p(col, dt))
                branches.append((pred,
                                 self._object_claims(b, name, bsp)))
        # if/then/else claims (c_if parity): a successful `if`
        # contributes; the taken arm contributes only when IT succeeds
        if isinstance(frag.get("if"), (dict, bool)):
            if_p = self._fragment_pred(frag["if"], f"{sp}/if")
            if isinstance(frag["if"], dict):
                branches.append((if_p, self._object_claims(
                    frag["if"], name, f"{sp}/if")))
            for arm, taken in (("then", True), ("else", False)):
                a = frag.get(arm)
                if not isinstance(a, dict):
                    continue
                arm_p = self._fragment_pred(a, f"{sp}/{arm}")

                def gated(col, dt, _i=if_p, _a=arm_p, _t=taken):
                    cond = _i(col, dt)
                    return (cond if _t else ~cond) & _a(col, dt)

                branches.append((gated, self._object_claims(
                    a, name, f"{sp}/{arm}")))
        # dependentSchemas claims (c_dependent_schemas parity): the
        # dependent schema contributes on (key present AND it succeeds)
        ds = frag.get("dependentSchemas")
        if isinstance(ds, dict) and _ge(self.draft, D2019):
            for k, s in ds.items():
                if not isinstance(s, dict) or s == {}:
                    continue  # bool/empty: claims nothing
                dsp = f"{sp}/dependentSchemas/{k}"
                s_pred = self._fragment_pred(s, dsp)

                def ds_gated(col, dt, _k=k, _p=s_pred):
                    trig = self._obj_present(col, dt, _k)
                    if trig is None:
                        return F.lit(False)
                    return trig & _p(col, dt).eqNullSafe(True)

                branches.append((ds_gated,
                                 self._object_claims(s, name, dsp)))
        # propertyDependencies claims: (key holds the string) AND the
        # dependent schema succeeds
        pdeps = frag.get("propertyDependencies")
        if isinstance(pdeps, dict) and _ge(self.draft, DNEXT):
            for prop, m in pdeps.items():
                if not isinstance(m, dict):
                    continue
                for sval, s in m.items():
                    if not isinstance(s, dict) or s == {} \
                            or not isinstance(sval, str):
                        continue
                    psp = f"{sp}/propertyDependencies/{prop}/{sval}"
                    s_pred = self._fragment_pred(s, psp)

                    def pd_gated(col, dt, _p=prop, _v=sval, _s=s_pred):
                        trig = self._obj_strval_eq(col, dt, _p, _v)
                        if trig is None:
                            return F.lit(False)
                        return trig & _s(col, dt).eqNullSafe(True)

                    branches.append((pd_gated,
                                     self._object_claims(s, name, psp)))
        all_keys = "additionalProperties" in frag or (
            not top and "unevaluatedProperties" in frag)
        return {"names": names, "patterns": self._claim_patterns(frag),
                "all_keys": all_keys,
                "branches": tuple(branches)}

    @staticmethod
    def _one_of_gate(preds):
        def gate(col, dt, _ps=tuple(p for p in preds if p is not None)):
            total = None
            for p in _ps:
                x = F.when(p(col, dt).eqNullSafe(True), 1).otherwise(0)
                total = x if total is None else total + x
            return F.lit(True) if total is None else total == 1
        return gate

    @staticmethod
    def _one_of_row_gate(preds):
        def gate(dtypes, _ps=tuple(p for p in preds if p is not None)):
            total = None
            for p in _ps:
                x = F.when(p(dtypes).eqNullSafe(True), 1).otherwise(0)
                total = x if total is None else total + x
            return F.lit(True) if total is None else total == 1
        return gate

    def _fragment_pred(self, frag, sp):
        """fn(col, dt) -> branch-success Column for a property-level
        fragment (error-level checks only: warnings don't fail a
        branch, matching the interpreter's in-place applicators)."""
        if frag is True or frag == {}:
            return lambda col, dt: F.lit(True)
        if frag is False:
            return lambda col, dt: F.lit(False)
        inner = ColumnarValidator({"properties": {"_e": frag}},
                                  draft=self.draft,
                                  format_assertion=self.format_assertion,
                                  strict=False, inline_refs=False)
        self.unsupported.extend(
            u.replace("/properties/_e", sp) for u in inner.unsupported)
        builders = []
        for c in inner.checks:
            if c.level != "error":
                continue
            if not getattr(c.build, "_jvm", True):
                self.unsupported.append(
                    f"{sp}/{c.keyword} (pandas-UDF check inside an "
                    f"unevaluated* branch predicate)")
                continue
            builders.append(c.build)
        return lambda col, dt, _b=tuple(builders): _reduce_and(
            [bb(col, dt).eqNullSafe(True) for bb in _b])

    def _error_builders(self, frag, sp):
        """JVM error-level builders for a fragment (the unevaluated*
        value-schema check), with the same pandas-UDF escape hatch as
        _nested_builders."""
        if frag is True or frag == {}:
            return ()
        if frag is False:
            return (lambda col, dt: F.lit(False),)
        inner = ColumnarValidator({"properties": {"_e": frag}},
                                  draft=self.draft,
                                  format_assertion=self.format_assertion,
                                  strict=False, inline_refs=False)
        self.unsupported.extend(
            u.replace("/properties/_e", sp) for u in inner.unsupported)
        out = []
        for c in inner.checks:
            if c.level != "error":
                continue
            if not getattr(c.build, "_jvm", True):
                self.unsupported.append(
                    f"{sp}/{c.keyword} (pandas-UDF check inside "
                    f"unevaluated* value schema)")
                continue
            out.append(c.build)
        return tuple(out)

    def _claimed_field(self, claims, fname, col, dt):
        """Boolean Column: struct field ``fname`` is evaluated."""
        if claims["all_keys"] or fname in claims["names"] or any(
                rx.search(fname) for _, rx in claims["patterns"]):
            return F.lit(True)
        acc = F.lit(False)
        for pred, sub in claims["branches"]:
            acc = acc | (pred(col, dt)
                         & self._claimed_field(sub, fname, col, dt))
        return acc

    def _claimed_keys(self, claims, col, dt):
        """array<string> Column of evaluated keys for a map column."""
        keys = F.map_keys(col)
        if claims["all_keys"]:
            return keys
        empty = F.array().cast("array<string>")
        parts = []
        if claims["names"]:
            parts.append(F.array(*[F.lit(n) for n in claims["names"]]))
        def _matching(jp):
            # no default-arg capture: PySpark counts lambda params to
            # decide whether to pass the element index
            return lambda k: k.rlike(jp)

        for jp, _ in claims["patterns"]:
            parts.append(F.filter(keys, _matching(jp)))
        for pred, sub in claims["branches"]:
            parts.append(F.when(pred(col, dt),
                                self._claimed_keys(sub, col, dt))
                          .otherwise(empty))
        return F.concat(*parts) if parts else empty

    def _compile_unevaluated_props(self, name, sub, sp):
        up = sub.get("unevaluatedProperties")
        if up is None or not _ge(self.draft, D2019):
            return
        if up is True or up == {}:
            return  # evaluates everything, never fails
        if "additionalProperties" in sub:
            return  # adjacent AP claims every key; uP can never fire
        claims = self._object_claims(sub, name, sp, top=True)
        usp = f"{sp}/unevaluatedProperties"
        ub = None if up is False else (
            self._error_builders(up, usp) if isinstance(up, dict) else None)
        if up is not False and ub is None:
            return

        def build(col, dt, _c=claims, _b=ub):
            if isinstance(dt, T.StructType):
                oks = []
                for f in dt.fields:
                    val = col.getField(f.name)
                    ok = val.isNull() \
                        | self._claimed_field(_c, f.name, col, dt)
                    if _b is not None:
                        ok = ok | _reduce_and(
                            [bb(val, f.dataType).eqNullSafe(True)
                             for bb in _b])
                    oks.append(ok)
                return _reduce_and(oks)
            if isinstance(dt, T.MapType):
                unev = F.array_except(F.map_keys(col),
                                      self._claimed_keys(_c, col, dt))
                if _b is None:
                    return F.size(unev) == 0
                return F.forall(unev, lambda k: _reduce_and(
                    [bb(F.element_at(col, k), dt.valueType)
                        .eqNullSafe(True) for bb in _b]))
            return F.lit(True)

        self._add(name, "unevaluatedProperties", usp,
                  "property not evaluated by any schema", "error", build)

    def _array_claims(self, frag, sp, top=False):
        """{n_prefix, all_items, contains, branches} claim structure for
        an array fragment; 2020-12 contains claims its matches."""
        if not isinstance(frag, dict):
            return {"n_prefix": 0, "all_items": False, "contains": None,
                    "branches": ()}
        unsafe = [k for k in frag if k in self._CLAIM_UNSAFE]
        if unsafe:
            self.unsupported.append(
                f"{sp} (unevaluated* claim algebra cannot model "
                f"{sorted(set(unsafe))})")
            return {"n_prefix": 0, "all_items": False, "contains": None,
                    "branches": ()}
        from m3spark.schema.core import D2020
        is2020 = _ge(self.draft, D2020)
        items = frag.get("items")
        prefix = frag.get("prefixItems") if is2020 else (
            items if isinstance(items, list) else None)
        n_prefix = len(prefix) if isinstance(prefix, list) else 0
        # schema-form items evaluates every element; tuple-form plus
        # additionalItems (<=2019) likewise claims the whole array; a
        # nested (non-top) unevaluatedItems evaluates every residual
        # element itself, so on branch success the whole array is claimed
        all_items = isinstance(items, (dict, bool)) or (
            not is2020 and isinstance(items, list)
            and isinstance(frag.get("additionalItems"), (dict, bool))) or (
            not top and "unevaluatedItems" in frag)
        contains = None
        if is2020 and isinstance(frag.get("contains"), (dict, bool)):
            contains = self._error_builders(frag["contains"],
                                            f"{sp}/contains")
        branches = []
        for comb in ("allOf", "anyOf", "oneOf"):
            brs = frag.get(comb)
            if not isinstance(brs, list):
                continue
            preds = [self._fragment_pred(b, f"{sp}/{comb}/{i}")
                     if isinstance(b, (dict, bool)) else None
                     for i, b in enumerate(brs)]
            gate = (self._one_of_gate(preds) if comb == "oneOf"
                    else None)
            for i, b in enumerate(brs):
                bsp = f"{sp}/{comb}/{i}"
                if b is True or b == {} or b is False \
                        or not isinstance(b, dict):
                    continue
                pred = preds[i]
                if gate is not None:
                    pred = (lambda col, dt, _p=preds[i], _g=gate:
                            _g(col, dt) & _p(col, dt))
                branches.append((pred, self._array_claims(b, bsp)))
        if isinstance(frag.get("if"), (dict, bool)):
            if_p = self._fragment_pred(frag["if"], f"{sp}/if")
            if isinstance(frag["if"], dict):
                branches.append((if_p,
                                 self._array_claims(frag["if"],
                                                    f"{sp}/if")))
            for arm, taken in (("then", True), ("else", False)):
                a = frag.get(arm)
                if not isinstance(a, dict):
                    continue
                arm_p = self._fragment_pred(a, f"{sp}/{arm}")

                def gated(col, dt, _i=if_p, _a=arm_p, _t=taken):
                    cond = _i(col, dt)
                    return (cond if _t else ~cond) & _a(col, dt)

                branches.append((gated,
                                 self._array_claims(a, f"{sp}/{arm}")))
        return {"n_prefix": n_prefix, "all_items": all_items,
                "contains": contains, "branches": tuple(branches)}

    def _claimed_item(self, claims, elem, idx, col, et, dt):
        """Boolean Column: array element ``elem`` at 0-based ``idx`` is
        evaluated."""
        if claims["all_items"]:
            return F.lit(True)
        acc = idx < F.lit(claims["n_prefix"])
        if claims["contains"] is not None:
            cb = claims["contains"]
            match = _reduce_and([bb(elem, et).eqNullSafe(True)
                                 for bb in cb]) if cb else F.lit(True)
            acc = acc | match
        for pred, sub in claims["branches"]:
            acc = acc | (pred(col, dt)
                         & self._claimed_item(sub, elem, idx, col, et, dt))
        return acc

    def _compile_unevaluated_items(self, name, sub, sp):
        ui = sub.get("unevaluatedItems")
        if ui is None or not _ge(self.draft, D2019):
            return
        if ui is True or ui == {}:
            return
        claims = self._array_claims(sub, sp, top=True)
        usp = f"{sp}/unevaluatedItems"
        ub = None if ui is False else (
            self._error_builders(ui, usp) if isinstance(ui, dict) else None)
        if ui is not False and ub is None:
            return
        if claims["all_items"]:
            return  # items-schema / additionalItems claim every element

        def build(col, dt, _c=claims, _b=ub):
            if not isinstance(dt, T.ArrayType):
                return F.lit(True)
            et = dt.elementType
            unev = F.filter(
                col, lambda x, i: ~self._claimed_item(_c, x, i, col, et,
                                                      dt))
            if _b is None:
                return F.size(unev) == 0
            return F.forall(unev, lambda x: _reduce_and(
                [bb(x, et).eqNullSafe(True) for bb in _b]))

        self._add(name, "unevaluatedItems", usp,
                  "array element not evaluated by any schema", "error",
                  build)

    def _compile_combinator(self, name, comb, subs, sp):
        if comb == "allOf":
            # pure conjunction: flatten every branch's checks to
            # first-class checks with their precise inner schema paths —
            # the interpreter propagates inner violations verbatim
            # (core.py c_all_of), and the flat form also keeps each
            # predicate in the same codegen stage with no wrapper expr
            for i, s in enumerate(subs):
                inner = ColumnarValidator(
                    {"properties": {name: s}}, draft=self.draft,
                    format_assertion=self.format_assertion, strict=False, inline_refs=False)
                self.unsupported.extend(inner.unsupported)
                for c in inner.checks:
                    self.checks.append(Check(
                        c.column, c.keyword,
                        c.schema_path.replace(f"/properties/{name}",
                                              f"{sp}/{i}", 1),
                        c.message, c.level, c.build, c.doc_path))
            return
        groups = []
        for i, s in enumerate(subs):
            inner = ColumnarValidator({"properties": {name: s}},
                                      draft=self.draft,
                                      format_assertion=self.format_assertion,
                                      strict=False, inline_refs=False)
            self.unsupported.extend(inner.unsupported)
            groups.append([c.build for c in inner.checks])

        def build(col, dt, _g=groups, _comb=comb):
            branch = [_reduce_and([b(col, dt) for b in builders])
                      for builders in _g]
            if _comb == "allOf":
                return _reduce_and(branch)
            if _comb == "anyOf":
                return _reduce_or(branch)
            total = None
            for p in branch:
                c = F.when(p, 1).otherwise(0)
                total = c if total is None else total + c
            return total == 1

        self._add(name, comb, sp, f"{comb} constraint failed", "error", build)

    # -- application --------------------------------------------------------

    def apply(self, df: DataFrame, out_valid: str = "valid",
              out_violations: str = "violations") -> DataFrame:
        # expression memo (m3spark.memo), expressions only: keyed on the
        # SparkContext, this validator, the ordered input dtypes and
        # the output names
        added, viol_arr, valid_col = expr_memo(
            self, df.dtypes, (out_valid, out_violations),
            lambda: self._build_apply(df, out_violations))
        for dname, build_col in added:
            df = df.withColumn(dname, build_col)
        df = df.withColumn(out_violations, viol_arr)
        df = df.withColumn(out_valid, valid_col)
        if added:
            df = df.drop(*[n for n, _ in added])
        return df

    def _build_apply(self, df: DataFrame, out_violations: str):
        """(derived columns, violations array, valid) Columns for
        :meth:`apply` over ``df``'s shape."""
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        # bind shared subexpressions (content decode chain) once per row
        # in a projection UNDER the check projection: each is referenced
        # many times by the per-keyword predicates, and CollapseProject
        # keeps the boundary because the expressions are non-cheap and
        # multiply-referenced.
        added = [(dname, build_col())
                 for dname, (src, build_col) in self.derived.items()
                 if src in dtypes and isinstance(dtypes[src], T.StringType)]
        self._avail = set(n for n, _ in added)
        structs = []
        for c in self.checks:
            ok = self._check_ok(c, dtypes)
            if c.keyword == "required" and c.doc_path == "":
                # interp parity: top-level required renders the ROW
                # document (to_json omits nulls = absent fields)
                val_expr = F.substring(
                    F.to_json(F.struct(*[F.col(n) for n in dtypes])),
                    1, 128)
            elif (c.column == self._ROW_CHECK or c.column not in dtypes
                    or isinstance(dtypes[c.column], T.BinaryType)):
                # cross-column checks have no single offending value;
                # binary payloads have no meaningful textual form
                val_expr = F.lit(None).cast("string")
            elif c.value_of is not None:
                # nested check: render the offending LEAF value (the
                # navigator returns NULL when the type never gets there)
                val_expr = F.substring(
                    c.value_of(F.col(c.column), dtypes[c.column])
                    .cast("string"), 1, 128)
            else:
                # truncated textual instance value — parity with the
                # reference's errors carrying :document
                # (util.cljc:106-115); rendering matches the
                # interpreter's _fmt_value (Java Double.toString)
                val_expr = F.substring(F.col(c.column).cast("string"),
                                       1, 128)
            viol = F.struct(
                F.lit(c.keyword).alias("keyword"),
                F.lit(c.schema_path).alias("schema_path"),
                F.lit(c.doc_path if c.doc_path is not None
                      else "/" + c.column).alias("doc_path"),
                F.lit(c.message).alias("message"),
                F.lit(c.level).alias("level"),
                val_expr.alias("value"))
            structs.append((~ok.eqNullSafe(True), viol))
        empty = F.array().cast(
            "array<struct<keyword:string,schema_path:string,"
            "doc_path:string,message:string,level:string,"
            "value:string>>")
        if structs:
            # concat of per-check 0/1-element arrays instead of
            # filter(array(...), isNotNull): higher-order functions are
            # CodegenFallback, and one in this projection dropped the
            # whole violation-struct assembly out of whole-stage codegen
            # (interpreted eval per row x per check).  Result identical:
            # filter preserves check order, and so does concat.
            viol_arr = F.concat(*[
                F.when(bad, F.array(viol)).otherwise(empty)
                for bad, viol in structs])
        else:
            viol_arr = empty
        self._avail = set()
        # no error-level violation; array_contains over the
        # extracted level field instead of size(filter(...)) — the
        # lambda form is CodegenFallback and would drop this
        # projection out of codegen (entries are never null, and
        # array_contains([]) is false, so semantics are identical)
        valid_col = ~F.array_contains(
            F.col(out_violations)["level"], "error")
        return added, viol_arr, valid_col

    def _check_ok(self, c: Check, dtypes: dict) -> Column:
        """Check ``c``'s pass predicate over a table of ``dtypes``
        (name -> DataType)."""
        if c.column == self._ROW_CHECK:
            return c.build(None, dtypes)
        if c.column not in dtypes:
            # column absent from the table: TOP-LEVEL required (doc_path
            # "", the row object) fails statically; everything else
            # passes — including nested required, whose parent property
            # is missing (presence semantics, c_required parity)
            return F.lit(not (c.keyword == "required"
                              and c.doc_path == ""))
        return c.build(F.col(c.column), dtypes[c.column])

    def violation_prefilter(self, df: DataFrame) -> DataFrame:
        """``df`` filtered to rows that carry at least one violation:
        every check's predicate evaluated ONCE inside a single Filter,
        with no per-row violation-struct assembly.  For pipelines whose
        violation rate is low (the pages flagship plants ~3%), running
        this filter first and :meth:`apply` only on the survivors skips
        the struct/array work for the clean bulk; callers with dense
        violations should apply directly (the checks would run twice).
        Only valid when the schema registered no derived columns — a
        filter over a derived-column projection would be pushed below
        it with the expensive expression substituted per reference."""
        if self.derived:
            raise ValueError("violation_prefilter does not support "
                             "schemas with content keywords")

        def build():
            dtypes = {f.name: f.dataType for f in df.schema.fields}
            return _reduce_or([~self._check_ok(c, dtypes).eqNullSafe(True)
                               for c in self.checks])

        return df.where(expr_memo(self, df.dtypes, (), build))

    def violation_rows(self, df: DataFrame, key_col: str) -> DataFrame:
        """The north-star violation table: (key, keyword, path, message,
        offending value)."""
        return violation_rows(self.apply(df), key_col)


def _struct_field(col: Column, dt: T.DataType, name: str):
    """(field column, field type) for a named member of a struct/map
    column, or (None, None) when the column type has no such position —
    the static signal that a nested check can never fire here."""
    if isinstance(dt, T.StructType):
        if name not in dt.fieldNames():
            return None, None
        return col.getField(name), dt[name].dataType
    if isinstance(dt, T.MapType):
        return col.getField(name), dt.valueType
    return None, None


def _needs_eq_path(x, dt: T.DataType) -> bool:
    """Literals where a plain isin/lit would crash py4j (ints beyond
    long range) or silently lose exactness (float literal vs integral
    column at >= 2^53): route through _eq_lit instead."""
    if isinstance(x, bool):
        return False
    if isinstance(x, int):
        return abs(x) >= 2**53
    if isinstance(x, float):
        return isinstance(dt, _INTEGRAL)
    return False


def _eq_lit(col: Column, dt: T.DataType, x) -> Column:
    """col == literal with json-= MATHEMATICAL numeric equality across
    the int/float representation boundary (jsontypes.json_eq parity):
    an integer literal equals a double value iff the literal is exactly
    double-representable and the doubles match; a non-representable
    integer equals no double (a double's exact value is a bounded
    dyadic rational)."""
    from decimal import Decimal as _D

    if isinstance(x, int) and not isinstance(x, bool):
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            try:
                f = float(x)
            except OverflowError:
                return F.lit(False)
            if int(f) == x:
                return col == F.lit(f)
            return F.lit(False)
        if isinstance(dt, _INTEGRAL):
            if -(2**63) <= x < 2**63:
                return col == F.lit(x)
            return F.lit(False)
        if isinstance(dt, T.DecimalType):
            if len(str(abs(x))) <= 38:
                return col == F.lit(_D(x))
            return F.lit(False)
        return F.lit(False)
    if isinstance(x, float) and isinstance(dt, _INTEGRAL):
        if x.is_integer() and -(2**63) <= x < 2**63:
            return col == F.lit(int(x))
        return F.lit(False)
    return col == F.lit(x)


def _lit_needs_eq(x, dt: T.DataType) -> bool:
    """_needs_eq_path extended through array literals: True when any
    element (recursively) needs the exact-equality path (r6 advice —
    a huge-int element would crash F.lit at plan build; a float element
    vs integral element type loses exactness at >= 2^53)."""
    if isinstance(x, list):
        et = dt.elementType if isinstance(dt, T.ArrayType) else dt
        return any(_lit_needs_eq(e, et) for e in x)
    return _needs_eq_path(x, dt)


def _eq_lit_any(col: Column, dt: T.DataType, x) -> Column:
    """col json-= literal ``x`` with element-wise exactness for array
    literals; never-NULL (null/absent column value -> False)."""
    if isinstance(x, list):
        et = dt.elementType if isinstance(dt, T.ArrayType) else dt
        parts = [F.size(col) == F.lit(len(x))]
        for i, e in enumerate(x):
            parts.append(F.coalesce(
                _eq_lit_any(F.element_at(col, i + 1), et, e),
                F.lit(False)))
        return F.coalesce(_reduce_and(parts), F.lit(False))
    if _needs_eq_path(x, dt):
        return _eq_lit(col, dt, x)
    return col == F.lit(x)


def _array_lit(arr: list, dt: T.DataType) -> Column:
    """Array literal typed to the column (empty arrays need the cast)."""
    if not arr:
        return F.array().cast(dt)
    return F.array(*[F.lit(x) for x in arr])


def _value_compat(v, dt: T.DataType) -> bool:
    """Can literal ``v`` be compared to a column of type ``dt`` without
    a cast (JSON type compatibility, not SQL coercion)?"""
    if isinstance(v, bool):
        return isinstance(dt, T.BooleanType)
    if isinstance(v, (int, float)):
        return isinstance(dt, _NUMERIC)
    if isinstance(v, str):
        return isinstance(dt, T.StringType)
    if isinstance(v, list):
        # array literal vs array column: json-= compares element-wise
        return (isinstance(dt, T.ArrayType)
                and all(_value_compat(x, dt.elementType) for x in v)
                and None not in v)
    return False


def _numeric_only(build):
    """JSON Schema numeric keywords constrain only numbers: on any other
    column type they pass statically (and never emit an ANSI cast)."""
    def guarded(col, dt):
        if not isinstance(dt, _NUMERIC):
            return F.lit(True)
        return build(col, dt)
    guarded._jvm = getattr(build, "_jvm", True)
    return guarded


# -- content-keyword helpers (variant-typed predicates) ----------------------

# structural base64 per RFC 4648 §4 with mandatory padding — matches the
# interpreter's base64.b64decode(validate=True) acceptance exactly
# (whitespace and out-of-alphabet chars reject; empty string accepts)
_B64_STRUCT_PATTERN = ("^(?:[A-Za-z0-9+/]{4})*"
                       "(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$")


def _b64_ok(col: Column) -> Column:
    """Valid base64 AND the decoded bytes are valid UTF-8 (the interp
    decodes to str; unbase64 alone is lenient, hence the rlike gate)."""
    return col.rlike(_B64_STRUCT_PATTERN) & \
        F.is_valid_utf8(F.unbase64(col))


def _variant_field(v: Column, k: str) -> Column:
    """The field as a VARIANT; SQL NULL iff missing (a JSON null field
    is a non-null VOID variant, so presence is distinguishable)."""
    return F.try_variant_get(v, f"$.{k}", "variant")


def _variant_is(v: Column, prefix: str) -> Column:
    return F.schema_of_variant(v).startswith(prefix)


def _variant_is_number(v: Column) -> Column:
    t = F.schema_of_variant(v)
    return t.isin("BIGINT", "DOUBLE") | t.startswith("DECIMAL")


def _variant_type_ok(v: Column, t: str) -> Column:
    """JSON-type check on a variant value (draft-06+ semantics: an
    integral-valued float IS an integer)."""
    typ = F.schema_of_variant(v)
    if t == "object":
        return typ.startswith("OBJECT")
    if t == "array":
        return typ.startswith("ARRAY")
    if t == "string":
        return typ == "STRING"
    if t == "boolean":
        return typ == "BOOLEAN"
    if t == "null":
        return typ == "VOID"
    if t == "integer":
        return (typ == "BIGINT") | (
            (typ.startswith("DECIMAL") | (typ == "DOUBLE"))
            & (F.pmod(F.try_variant_get(v, "$", "double"), F.lit(1.0))
               == 0))
    if t == "number":
        return _variant_is_number(v)
    return F.lit(False)


def _variant_cast(v: Column, t: str) -> Column:
    """A variant VALUE as the given SQL type (NULL when incompatible)."""
    return F.try_variant_get(v, "$", t)


def _variant_arr(v: Column) -> Column:
    """A variant value as array<variant>; NULL when it is not an array."""
    return F.try_variant_get(v, "$", "array<variant>")


def _variant_elem_in(v: Column, vals: tuple) -> Column:
    """JSON equality of a variant VALUE against scalar literals: typed
    (1 != true, 1 != \"1\") but numeric-kind-blind (1 == 1.0)."""
    typ = F.schema_of_variant(v)
    preds = []
    for x in vals:
        if x is None:
            preds.append(typ == "VOID")
        elif isinstance(x, bool):
            preds.append((typ == "BOOLEAN")
                         & (_variant_cast(v, "boolean") == F.lit(x)))
        elif isinstance(x, (int, float)):
            preds.append(_variant_is_number(v)
                         & (_variant_cast(v, "double") == F.lit(float(x))))
        else:
            preds.append((typ == "STRING")
                         & (_variant_cast(v, "string") == F.lit(x)))
    return _reduce_or(preds) if preds else F.lit(False)


def _field_lift(pk: str, p):
    """Lift a variant predicate to field ``pk`` of an object variant:
    a missing field (or non-object parent) passes."""
    def lifted(v):
        f = F.try_variant_get(v, f"$.{pk}", "variant")
        return f.isNull() | p(f)
    return lifted


def _items_lift(p):
    """Lift a variant predicate over every element of an array variant:
    non-arrays pass (the type keyword reports those)."""
    def lifted(v):
        arr = _variant_arr(v)
        return arr.isNull() | F.forall(arr, lambda e: p(e))
    return lifted


def _variant_num(v: Column, k: str) -> Column:
    return F.try_variant_get(v, f"$.{k}", "double")


def _variant_str(v: Column, k: str) -> Column:
    return F.try_variant_get(v, f"$.{k}", "string")


def _variant_scalar_in(v: Column, k: str, vals: tuple) -> Column:
    """JSON equality of a variant field against scalar literals: typed
    (1 != true, 1 != "1") but numeric-kind-blind (1 == 1.0)."""
    f = _variant_field(v, k)
    typ = F.schema_of_variant(f)
    preds = []
    for x in vals:
        if x is None:
            preds.append(typ == "VOID")
        elif isinstance(x, bool):
            preds.append((typ == "BOOLEAN")
                         & (F.try_variant_get(v, f"$.{k}", "boolean")
                            == F.lit(x)))
        elif isinstance(x, (int, float)):
            preds.append(_variant_is_number(f)
                         & (_variant_num(v, k) == F.lit(float(x))))
        else:
            preds.append((typ == "STRING") & (_variant_str(v, k)
                                              == F.lit(x)))
    return _reduce_or(preds)


def _string_only(build):
    def guarded(col, dt):
        if not isinstance(dt, T.StringType):
            return F.lit(True)
        return build(col, dt)
    guarded._jvm = getattr(build, "_jvm", True)
    return guarded


def _reduce_and(preds: list[Column]) -> Column:
    if not preds:
        return F.lit(True)
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _reduce_or(preds: list[Column]) -> Column:
    if not preds:
        return F.lit(False)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def _cmp_builder(op: str, bound):
    def build(col, dt, _b=bound, _op=op):
        if _op == ">":
            return col > _b
        if _op == ">=":
            return col >= _b
        if _op == "<":
            return col < _b
        return col <= _b
    return build

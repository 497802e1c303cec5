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

import logging
import re
from dataclasses import dataclass, replace
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
    _KEYWORDS, _SCHEMA_URI_TO_DRAFT, D2019, D2020, DNEXT, DRAFT3, DRAFT4,
    DRAFT7, CompiledSchema, _ge, compile_ecma_pattern, draft_of,
    meta_validate_schema,
)
from m3spark.schema.ecma import java_pattern
from m3spark.schema.formats import (
    FORMATS, IPV6_PATTERN, SPARK_RLIKE, URI_BAD_PCT_PATTERN,
    URI_CHARSET_PATTERN, URI_SCHEME_PATTERN,
)
from m3spark.sparkval import violation_rows

_log = logging.getLogger(__name__)


class UnsupportedKeyword(Exception):
    """Schema uses a keyword the columnar compiler can't lower; route the
    query through m3spark.sparkval (Arrow-batched interpreter) instead."""


@dataclass
class Check:
    """One compiled constraint: a builder producing an 'ok' predicate
    from (column, its type), or from (None, row type) for a row check
    (``column`` None)."""
    column: str | None
    keyword: str
    schema_path: str
    message: str
    level: str
    build: Callable[[Column, T.DataType], Column]
    doc_path: str | None = None  # defaults to "/<column>" at apply time
    # navigates from the top-level column to the offending value (nested
    # checks render the leaf, not the whole struct); None = the column
    value_of: Callable[[Column, T.DataType], Column] | None = None
    # the key a row presence check (``required``) tests: its predicate
    # reads that column's NULLness alone.  None for any other check
    presence: str | None = None


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _type_ok(tname: str, dtype: T.DataType, col: Column,
             draft: str) -> Column:
    """Static-first type check: if the column's Spark type already
    satisfies the JSON type, the predicate folds to a literal (free under
    Catalyst constant folding).  In drafts 3 and 4 an integer is a
    language-level integer, so no float or double is one (core.py
    is_integer_strict)."""
    if tname == "null":
        # NullType is the typed view of a JSON null inside a VARIANT;
        # the row (``col`` None) is never null
        if isinstance(dtype, T.NullType):
            return F.lit(True)
        return F.lit(False) if col is None else col.isNull()
    if tname == "string":
        return F.lit(isinstance(dtype, T.StringType))
    if tname == "boolean":
        return F.lit(isinstance(dtype, T.BooleanType))
    if tname == "number":
        return F.lit(isinstance(dtype, _NUMERIC))
    if tname == "integer":
        if isinstance(dtype, _INTEGRAL):
            return F.lit(True)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            if draft in (DRAFT3, DRAFT4):
                return F.lit(False)
            # floor() is a bigint, and from 2^53 up every finite double
            # is integral (NaN sorts above +inf in Spark)
            return (F.when(F.abs(col) < F.lit(_TWO_53), col == F.floor(col))
                     .otherwise(F.abs(col) < F.lit(float("inf"))))
        if isinstance(dtype, _NUMERIC):
            return col == F.floor(col)
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
    # rejects them); untagged builders are JVM expressions
    if fmt == "uri":
        return lambda col, dt: _uri_pred(col)
    if fmt == "date":
        return lambda col, dt: _date_pred(col)
    rx = SPARK_RLIKE.get(fmt)
    if rx is not None:
        return lambda col, dt: col.rlike(rx)
    if FORMATS.get(fmt) is None:
        return lambda col, dt: F.lit(True)

    def fmt_check(s: pd.Series) -> pd.Series:
        f = FORMATS[fmt]
        return s.map(lambda x: None if x is None else bool(f(x)))

    fn = lambda col, dt: _py_pred(fmt_check, col)  # noqa: E731
    fn._jvm = False
    return fn


def _pattern_pred(pattern: str) -> Callable:
    """ECMA pattern predicate as JVM rlike: the ECMA->Java translation
    (schema/ecma.py) rewrites `$`, `.`, `\\cX`, `\\u{..}`, named groups
    and empty classes to exact Java equivalents, so the JVM path
    carries ECMA semantics instead of approximating them.  An
    ECMA-invalid pattern compiles to no check (the interpreter's
    c_pattern ignores it identically)."""
    if pattern.startswith("$format:"):
        # reference extension (property.cljc:705-710): pattern delegates
        # to a format checker (unknown format: no-op)
        return _format_pred(pattern[len("$format:"):])
    try:
        jpat = java_pattern(pattern)
    except re.error:
        # ECMA-invalid: both engines ignore the keyword
        return lambda col, dt: F.lit(True)
    return lambda col, dt: col.rlike(jpat)


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
                 ref_unroll: int = 8,
                 registry: dict | None = None,
                 uri_dirs: dict | None = None):
        draft = draft or draft_of(schema)
        if format_assertion is None:
            format_assertion = not _ge(draft, D2019)
        self._setup(schema, draft, format_assertion)
        registry = dict(registry or {})
        # custom-dialect guard: a registry meta-schema carrying
        # $vocabulary restricts the ACTIVE keyword set (core.py
        # _meta_vocabulary / vocabulary.dialect_keywords) — the interp
        # honors it, this compiler filters by the draft's keyword table
        # only, so route such schemas to the interp rather than
        # over-enforce
        if isinstance(schema, dict):
            s_uri = schema.get("$schema")
            if (isinstance(s_uri, str)
                    and s_uri.rstrip("#") not in _SCHEMA_URI_TO_DRAFT):
                meta = (registry.get(s_uri)
                        or registry.get(s_uri.rstrip("#")))
                if (isinstance(meta, dict)
                        and isinstance(meta.get("$vocabulary"), dict)):
                    raise UnsupportedKeyword(
                        "custom $vocabulary dialect restricts active "
                        "keywords; use m3spark.sparkval.validate_json")
        # validate-m2 parity with the interpreter (core.py): an invalid
        # schema compiles to a plan that flags EVERY row with the
        # meta-error instead of silently lenient checks
        self.meta_errors = meta_validate_schema(schema, draft, registry)
        if self.meta_errors:
            msg = self.meta_errors[0].message
            n = len(self.meta_errors)
            if n > 1:
                msg += f" (+{n - 1} more meta-errors)"
            self.checks.append(Check(self._ROW_CHECK, "$schema", "", msg,
                                     "error", lambda col, row: F.lit(False)))
            return
        # eager driver-side $ref/$defs inlining (SURVEY §2.8): acyclic
        # local refs expand before compilation so the common reuse idiom
        # stays pure JVM; productive cycles unroll with a depth guard;
        # anything the inliner can't do safely (external refs,
        # $dynamicRef/$recursiveRef, non-productive cycles) keeps the
        # original schema and routes to the interp via UnsupportedKeyword
        # below.
        self._compile_property(self._ROW_CHECK,
                               inline_local_refs(schema, draft,
                                                 unroll=ref_unroll,
                                                 registry=registry,
                                                 uri_dirs=uri_dirs), "")
        if self.unsupported:
            raise UnsupportedKeyword(
                f"columnar compiler cannot lower: {self.unsupported}; "
                f"use m3spark.sparkval.validate_json for these")

    def _setup(self, schema, draft: str, format_assertion: bool):
        """State shared by a root validator and the fragment validators
        :meth:`_sub_checks` builds."""
        self.schema = schema
        self.draft = draft
        self.format_assertion = format_assertion
        self.checks: list[Check] = []
        self.unsupported: list[str] = []
        # the content decode, bound ONCE per row in a projection below
        # the check projection: name -> (source column, () -> Column).
        # Each string column with content keywords binds its base64
        # gate (``__m3b64__<col>``) and its decoded VARIANT
        # (``__m3var__<col>``); every contentSchema check reads them.
        # apply() materializes these and records them in _avail; a
        # fragment validator's checks never reach apply(), so they
        # build the decode inline.
        self.derived: dict = {}
        self._avail: set = set()
        # the values compiled here are decoded content (a VARIANT).  SQL
        # has no equality on VARIANT, so uniqueItems and array/object
        # enum/const literals cannot lower, and value applicators report
        # each inner check (_surface_values).  _sub_checks passes it on.
        self._variant = False

    # -- compilation --------------------------------------------------------

    _ROW_CHECK = None  # a row check's column: build gets (None, row type)
    # keywords a checker reads beside its own (c_if's then/else,
    # c_contains's min/maxContains) and the inliner's unroll cut
    _COMPANIONS = frozenset({"then", "else", "minContains", "maxContains",
                             UNROLL_GUARD_KEY})
    # the draft keywords with no lowering: a reference the inliner left
    # behind (cycle, external target, dynamic scope) and draft 3's
    # disallow.  A schema using one routes to the interpreter.
    _UNLOWERED = frozenset({"$ref", "$dynamicRef", "$recursiveRef",
                            "disallow"})

    def _active(self, sub: dict) -> dict:
        """``sub`` without the keywords its draft does not define.  The
        interpreter's own keyword table (``_KEYWORDS[draft]``) decides
        what compiles, so a keyword checks in both engines or in
        neither (vocabulary.cljc:193-565 analog)."""
        table = _KEYWORDS[self.draft]
        return {k: v for k, v in sub.items()
                if k in table or k in self._COMPANIONS}

    def _required_keys(self, sub: dict, sp: str) -> list:
        """(key, schema path) for each key object ``sub`` requires: its
        ``required`` list, and in draft 3 each property schema that
        says ``"required": true`` (c_properties' draft-3 form)."""
        req = sub.get("required")
        out = ([(k, f"{sp}/required") for k in req]
               if isinstance(req, list) else [])
        props = sub.get("properties")
        if self.draft == DRAFT3 and isinstance(props, dict):
            out += [(k, f"{sp}/properties/{k}") for k, s in props.items()
                    if isinstance(s, dict) and s.get("required") is True]
        return out

    def _compile_object(self, name: str | None, sub: dict, sp: str):
        """The object keywords of ``sub`` at one object position: the
        table row (``name`` is ``_ROW_CHECK``; builders get ``(None, row
        type)`` and read the columns) or column ``name`` (builders get
        the column and its type).  Struct fields and row columns are
        static, so their names match at build time; map keys are
        dynamic (HOFs over ``map_keys``); any other type passes — the
        ``type`` keyword reports it (m3 analog: property.cljc:992-1095;
        SURVEY §2.4)."""
        row = name is self._ROW_CHECK

        def add(kw, ksp, msg, build, on="object", value_of=None):
            self._add(name, kw, ksp, msg, "error", _only(on, build),
                      value_of=value_of)

        # interp convention (c_required): the violation sits at the
        # OBJECT that is missing the key and renders it as its value
        for k, rsp in self._required_keys(sub, sp):
            def build_req(col, dt, _k=k):
                present = self._obj_present(col, dt, _k)
                return F.lit(True) if present is None else present

            self._add(name, "required", rsp,
                      f"required property {k!r} missing", "error",
                      _only("object", build_req), value_of=_object_json,
                      presence=k if row else None)
        # a row property is a column; a struct or map member is reached
        # through the column, each inner check surfaced as its own
        props = sub.get("properties")
        for pname, psub in (props.items() if isinstance(props, dict)
                            else ()):
            if row:
                self._compile_property(pname, psub,
                                       f"{sp}/properties/{pname}")
            else:
                self._surface_nested_property(name, pname, psub, sp)
        pats = self._claim_patterns(sub)
        pp = sub.get("patternProperties")
        for pat, (jpat, rx) in pats.items():
            psch = pp[pat]
            if psch is True or psch == {} \
                    or not isinstance(psch, (dict, bool)):
                continue
            psp = f"{sp}/patternProperties/{pat}"
            if self._variant:
                self._surface_values(
                    name, psch, psp, T.MapType,
                    lambda col, _j=jpat: F.map_values(
                        F.map_filter(col, lambda k, v: k.rlike(_j))))
                continue
            vb = self._value_builders(psch, psp)
            if not vb:
                continue

            def build_pp(col, dt, _j=jpat, _rx=rx, _b=vb):
                if isinstance(dt, T.MapType):
                    # values whose KEY matches the (unanchored) pattern
                    matched = F.map_filter(col, lambda k, v: k.rlike(_j))
                    return F.forall(F.map_values(matched), lambda v:
                                    _reduce_and([b(v, dt.valueType)
                                                 for b in _b]))
                return _reduce_and([
                    _field_ok(_field(col, f.name), f.dataType, _b)
                    for f in _fields(dt) if _rx.search(f.name)])

            add("patternProperties", psp,
                f"value under key matching {pat!r} violates schema",
                build_pp)
        ap = sub.get("additionalProperties")
        props = sub.get("properties")
        named = tuple(props) if isinstance(props, dict) else ()
        ap_on = isinstance(ap, (dict, bool)) and ap is not True and ap != {}
        if ap_on and self._variant:
            self._surface_values(
                name, ap, f"{sp}/additionalProperties", T.MapType,
                lambda col, _n=named, _p=tuple(pats.values()):
                F.transform(_additional_keys(col, _n, _p),
                            lambda k: F.element_at(col, k)))
        elif ap_on:
            ab = () if ap is False else self._value_builders(
                ap, f"{sp}/additionalProperties")

            def build_ap(col, dt, _n=named, _p=tuple(pats.values()),
                         _b=ab, _false=ap is False):
                if isinstance(dt, T.MapType):
                    keys = _additional_keys(col, _n, _p)
                    if _false:
                        return F.size(keys) == 0
                    return F.forall(keys, lambda k: _reduce_and(
                        [b(F.element_at(col, k), dt.valueType) for b in _b]))
                oks = []
                for f in _fields(dt):
                    if f.name in _n or any(rx.search(f.name)
                                           for _, rx in _p):
                        continue
                    v = _field(col, f.name)
                    if _false:
                        oks.append(v.isNull())
                    elif _b:
                        oks.append(_field_ok(v, f.dataType, _b))
                return _reduce_and(oks)

            add("additionalProperties", f"{sp}/additionalProperties",
                "additional properties are not allowed" if ap is False
                else "additional property violates schema", build_ap)
        for kw, most in (("minProperties", False), ("maxProperties", True)):
            v = sub.get(kw)
            if isinstance(v, int) and not isinstance(v, bool):

                def build_np(col, dt, _v=v, _most=most):
                    if isinstance(dt, T.MapType):
                        n = F.size(F.map_keys(col))
                    elif isinstance(dt, T.StructType):
                        n = _count([_field(col, f.name).isNotNull()
                                    for f in dt.fields])
                    else:
                        return F.lit(True)
                    return n <= _v if _most else n >= _v

                add(kw, f"{sp}/{kw}",
                    f"{'more' if most else 'fewer'} than {v} properties",
                    build_np)
        # propertyNames: static names are judged once per field on the
        # DRIVER by the interpreter and fold to a literal; map keys run
        # the name schema's JVM builders
        pn = sub.get("propertyNames")
        if isinstance(pn, (dict, bool)) and pn is not True and pn != {}:
            pn_cs = None if pn is False else CompiledSchema(
                pn, draft=self.draft,
                format_assertion=self.format_assertion, meta_validate=False)
            kb = self._value_builders(pn, f"{sp}/propertyNames")

            def build_pn(col, dt, _cs=pn_cs, _b=kb):
                if isinstance(dt, T.MapType):
                    return F.forall(F.map_keys(col), lambda k: _reduce_and(
                        [b(k, T.StringType()) for b in _b]))
                return _reduce_and([
                    _field(col, f.name).isNull()
                    | F.lit(_cs is not None and _cs.validate(f.name).valid)
                    for f in _fields(dt)])

            add("propertyNames", f"{sp}/propertyNames",
                "property name violates schema", build_pn)
        self._compile_dependent_keywords(name, sub, sp)
        self._compile_unevaluated_props(name, sub, sp)
        if not row:
            self._compile_unevaluated_items(name, sub, sp)
        for comb in ("allOf", "anyOf", "oneOf"):
            if isinstance(sub.get(comb), list):
                self._compile_combinator(name, comb, sub[comb],
                                         f"{sp}/{comb}")
        # draft-3 extends = conjunction (allOf's ancestor)
        ext = sub.get("extends")
        if ext is not None:
            subs = [s for s in (ext if isinstance(ext, list) else [ext])
                    if isinstance(s, (dict, bool))]
            if subs:
                self._compile_combinator(name, "allOf", subs,
                                         f"{sp}/extends")
        if isinstance(sub.get("not"), (dict, bool)):
            p = self._fragment_pred(sub["not"], f"{sp}/not", row,
                                    errors_only=False)
            add("not", f"{sp}/not",
                f"{'row' if row else 'value'} matches 'not' schema",
                lambda col, dt, _p=p: ~_p(col, dt), on=None)
        # if/then/else (c_if): a warning fails the `if` branch; the
        # taken arm forwards its own errors, so each error check of
        # then/else is a check at `.../if/../then|else/...`, gated on
        # the `if` outcome
        if isinstance(sub.get("if"), (dict, bool)):
            if_p = self._fragment_pred(sub["if"], f"{sp}/if", row,
                                       errors_only=False)
            for arm in ("then", "else"):
                if not isinstance(sub.get(arm), (dict, bool)):
                    continue
                for c in self._sub_checks(sub[arm], f"{sp}/if/../{arm}",
                                          name=name, errors_only=True,
                                          jvm_only=not row):
                    b = ((lambda col, dt, _c=c: self._check_ok(_c, dt))
                         if row else c.build)

                    def gated(col, dt, _i=if_p, _b=b, _then=arm == "then"):
                        cond = _i(col, dt)
                        return (~cond if _then else cond) | _b(col, dt)

                    gated._jvm = getattr(b, "_jvm", True)
                    doc = c.doc_path
                    if row and doc is None:
                        doc = f"/{c.column}"
                    # a column check moved onto the row renders no value
                    self.checks.append(replace(
                        c, column=name, build=gated, doc_path=doc,
                        value_of=c.value_of if c.column == name else None,
                        presence=None))

    def _sub_checks(self, frag, sp, name="_e", errors_only=False,
                    jvm_only=False, variant=False) -> list[Check]:
        """The checks of subschema ``frag``, compiled with this
        validator's draft and format_assertion — the one place a
        fragment compiles.  ``frag`` compiles as property ``name`` of a
        flat table, or as the row schema itself when ``name`` is None.
        No meta-validation (the root already validated every subschema)
        and no ref inlining: a fragment's `#` pointers address the
        ORIGINAL root, so any $ref the root-level inline left behind
        stays an unsupported keyword.  What the fragment cannot lower is
        added to this validator's ``unsupported``, and every schema path
        is rebased onto ``sp``.  ``errors_only`` drops warning-level
        checks (branch-success semantics: warnings never fail an
        in-place applicator); ``jvm_only`` drops pandas-UDF checks,
        which cannot run inside a higher-order-function lambda, a
        getField descent or a branch predicate, and reports each as
        unsupported.  ``variant``: ``frag`` checks decoded content
        (see ``_variant``)."""
        if frag is True or frag == {}:
            return []
        prefix = "" if name is None else f"/properties/{name}"
        inner = ColumnarValidator.__new__(ColumnarValidator)
        inner._setup(frag, self.draft, self.format_assertion)
        inner._variant = self._variant or variant
        inner._compile_property(name, frag, prefix)
        for u in inner.unsupported:
            u = u.removeprefix(prefix)
            # a row fragment reports its own keys bare ("$ref"); every
            # other entry is a path or a note after one
            self.unsupported.append(sp + (u if u[:1] in ("", "/", " ")
                                          else f"/{u}"))
        out = []
        for c in inner.checks:
            path = sp + c.schema_path.removeprefix(prefix)
            if errors_only and c.level != "error":
                continue
            if jvm_only and not getattr(c.build, "_jvm", True):
                self.unsupported.append(
                    f"{path} (pandas-UDF check inside a nested or branch "
                    f"predicate — not lowerable to a JVM expression)")
                continue
            out.append(replace(c, schema_path=path))
        return out

    def _surface_values(self, name, frag, sp, container, values):
        """Each check of value schema ``frag`` as its own check over
        every value ``values(col)`` picks from a ``container`` (map or
        array) value.  Decoded content reports violations this way
        (inner keyword and path), as the interpreter's c_items,
        c_pattern_properties and c_additional_properties forward each
        inner violation; typed columns report at the applicator."""
        for c in self._sub_checks(frag, sp, jvm_only=True):
            def build(col, dt, _b=c.build):
                if not isinstance(dt, container):
                    return F.lit(True)  # type keyword reports mismatches
                vt = (dt.valueType if isinstance(dt, T.MapType)
                      else dt.elementType)
                return F.forall(values(col), lambda x: _b(x, vt))
            self._add(name, c.keyword, c.schema_path, c.message, c.level,
                      _only("object" if container is T.MapType else "array",
                            build))

    def _add(self, column, keyword, sp, msg, level, build, null_passes=True,
             doc_path=None, value_of=None, presence=None):
        if column is self._ROW_CHECK:
            # the row is never missing, never a VARIANT and always an
            # object: a builder for another kind is statically true
            if getattr(build, "_on", None) not in (None, "object"):
                return
            doc_path = "" if doc_path is None else doc_path
        else:
            build = _at_value(build, null_passes)
        self.checks.append(Check(column, keyword, sp, msg, level, build,
                                 doc_path, value_of, presence))

    def _compile_property(self, name: str | None, sub, sp: str):
        """Schema ``sub`` at one value position: column ``name``
        (builders get the column and its type) or, when ``name`` is
        ``_ROW_CHECK``, the table row — an object whose fields are the
        columns (builders get ``(None, row type)``)."""
        row = name is self._ROW_CHECK
        if sub is True or sub == {}:
            return
        if sub is False:
            self._add(name, "false", sp, "schema is false", "error",
                      lambda col, dt: F.lit(False))
            return
        if not isinstance(sub, dict):
            return
        sub = self._active(sub)
        self.unsupported.extend(k if row else f"{sp}/{k}" for k in sub
                                if k in self._UNLOWERED)
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
                    f"than the unrolled plan (raise ColumnarValidator's "
                    f"ref_unroll or use m3spark.sparkval.validate_json)")
            self._add(name, "$ref", f"{sp}/$ref",
                      "recursion beyond unroll depth", "error",
                      build_guard, null_passes=False)
        draft = self.draft
        old = draft in (DRAFT3, DRAFT4)

        t = sub.get("type")
        members = t if isinstance(t, list) else [t]
        names = [x for x in members if isinstance(x, str)]
        # the row is an object: a type that admits one adds nothing
        if isinstance(t, (str, list)) and not (
                row and {"object", "any"} & set(names)):
            # draft-3 union types may embed SCHEMA members: the value
            # matches the union if it satisfies any member schema
            # (c_type parity; in draft-4+ schema members are
            # meta-invalid and never reach here)
            sub_preds = tuple(
                self._fragment_pred(s, f"{sp}/type/{i}", row)
                for i, s in enumerate(members)
                if isinstance(s, dict) and draft == DRAFT3)

            def build_type(col, dt, _n=tuple(names), _s=sub_preds):
                oks = [_type_ok(x, dt, col, draft) for x in _n]
                oks += [p(col, dt).eqNullSafe(True) for p in _s]
                return _reduce_or(oks)

            if old and "integer" in names:
                # a VARIANT stores both 1.0 and 12345678901234567890 as
                # DECIMAL(p,0); drafts 3/4 call only the second an integer
                build_type._no_variant = (
                    f"{sp}/type integer over variant (drafts 3/4: a "
                    f"VARIANT DECIMAL(p,0) may hold 1.0 or an integer)")
            self._add(name, "type", f"{sp}/type",
                      f"expected type {t}" if isinstance(t, str)
                      else f"expected one of {names}", "error", build_type,
                      null_passes=not (isinstance(t, list)
                                       and "null" in names))

        for kw, lits in (("enum", sub.get("enum")),
                         ("const", [sub.get("const")])):
            if self._variant and isinstance(lits, list) and any(
                    isinstance(x, (list, dict)) for x in lits):
                self.unsupported.append(
                    f"{sp}/{kw} (array or object literal: SQL has no "
                    f"equality on VARIANT values)")
        if isinstance(sub.get("enum"), list):
            vals = sub["enum"]

            def build_enum(col, dt, _v=tuple(vals), _sp=f"{sp}/enum"):
                _no_literal_eq(_sp, _v, dt)
                if isinstance(dt, T.NullType):
                    return F.lit(None in _v)
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
        if "const" in sub:
            cv = sub["const"]

            def build_const(col, dt, _c=cv, _sp=f"{sp}/const"):
                _no_literal_eq(_sp, (_c,), dt)
                if isinstance(dt, T.NullType):
                    return F.lit(_c is None)
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
        mof_kw = "divisibleBy" if "divisibleBy" in sub else "multipleOf"
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
                      _string_only(_pattern_pred(pat)))
        if isinstance(sub.get("format"), str):
            fmt = sub["format"]
            level = "error" if self.format_assertion else "warning"
            if fmt in FORMATS:
                self._add(name, "format", f"{sp}/format",
                          f"not a valid {fmt}", level,
                          _string_only(_format_pred(fmt)))

        if not row:  # the row is never a string or an array
            if ("contentEncoding" in sub or "contentMediaType" in sub
                    or "contentSchema" in sub):
                self._compile_content(name, sub, sp, draft)
            self._compile_array_keywords(name, sub, sp)
        self._compile_object(name, sub, sp)

    # -- content keywords (decode-then-validate, §2.9) -----------------------
    # Pure JVM: base64 validity is one rlike plus is_valid_utf8 of the
    # decoded bytes, JSON well-formedness is try_parse_json IS NOT NULL,
    # and contentSchema compiles through _sub_checks like any subschema,
    # its checks reading the decoded VARIANT through the typed builders
    # (m3 runs the same checkers on the decoded value,
    # property.cljc:788-810).  Both decodes are total (try_to_binary,
    # try_parse_json), so no plan shape can make one throw.  Interp
    # parity (core.py c_content): the checker is registered under
    # contentEncoding when present, so every content violation carries
    # that keyword's schema path; draft-07 = errors, 2019+ = warnings,
    # and every contentSchema violation is a warning; an invalid
    # encoding suppresses the downstream media-type / schema checks.

    def _bind(self, dname: str, src: str, expr):
        """Registers ``expr`` of column ``src`` as derived column
        ``dname``, bound once per row when this validator's apply()
        runs.  Returns its reader: the bound column inside apply(), the
        inline expression for a fragment validator's checks."""
        self.derived[dname] = (src, lambda: expr(F.col(src)))
        return lambda col: (F.col(dname) if dname in self._avail
                            else expr(col))

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

        if b64:
            _bok = self._bind(f"__m3b64__{name}", name, _b64_ok)
            self._add(name, "contentEncoding", csp, "not valid base64",
                      level, _string_only(lambda col, dt: _bok(col)))

        # contentSchema without contentMediaType still assumes JSON
        # content — reference property.cljc:796-801 (interp parity:
        # core.py c_content / c_content_schema)
        assume_json = mt is None and isinstance(csch, (dict, bool))
        if mt != "application/json" and not assume_json:
            return

        # the rlike gate in _bok rejects what the lenient decode accepts
        # (unpadded input); every consumer applies it
        _var = self._bind(f"__m3var__{name}", name, lambda col: (
            F.try_parse_json(
                F.try_to_binary(col, F.lit("base64")).cast("string")
                if b64 else col)))

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

        if isinstance(csch, (dict, bool)):
            for c in self._sub_checks(csch, f"{csp}/contentSchema",
                                      errors_only=True, jvm_only=True,
                                      variant=True):
                def gated(col, dt, _b=c.build):
                    v = _var(col)
                    gate = v.isNotNull()
                    if b64:
                        gate = _bok(col) & gate
                    return ~gate | _b(v, T.VariantType())
                # interp parity: every contentSchema violation is a
                # warning regardless of draft (core.py c_content)
                self._add(name, c.keyword, c.schema_path, c.message,
                          "warning", _string_only(gated))

    def _compile_array_keywords(self, name: str, sub: dict, sp: str):
        """Array keywords over typed array<T> columns as higher-order
        functions (m3 analogs: property.cljc:1156-1331; SURVEY §2.5)."""
        def arr_guard(build):
            def guarded(col, dt):
                if not isinstance(dt, T.ArrayType):
                    return F.lit(True)  # type keyword reports mismatches
                return build(col, dt.elementType)
            return _only("array", guarded)

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
        if sub.get("uniqueItems") is True and self._variant:
            self.unsupported.append(f"{sp}/uniqueItems (SQL has no "
                                    f"equality on VARIANT values)")
        elif sub.get("uniqueItems") is True:
            def build_unique(col, et, _sp=f"{sp}/uniqueItems"):
                _no_variant_eq(_sp, et)
                return F.size(col) == F.size(F.array_distinct(col))
            self._add(name, "uniqueItems", f"{sp}/uniqueItems",
                      "array items are not unique", "error",
                      arr_guard(build_unique))
        items = sub.get("items")
        # items applies past the prefixItems window only in 2020-12/next
        # (prefixItems is an unknown keyword before then — interp
        # c_items gates the offset identically, schema/core.py:1335)
        pfx_offset = len(sub["prefixItems"]) \
            if (self.draft in (D2020, DNEXT)
                and isinstance(sub.get("prefixItems"), list)) else 0
        if self._variant and (items is False or isinstance(items, dict)):
            self._surface_values(name, items, f"{sp}/items", T.ArrayType,
                                 lambda col, _n=pfx_offset: _after(col, _n))
        elif items is False:
            # 2020-12: items applies only past the prefixItems window,
            # so false forbids elements BEYOND the prefix, not all
            n_pfx = pfx_offset
            self._add(name, "items", f"{sp}/items",
                      "items: false allows no elements past the prefix",
                      "error",
                      arr_guard(lambda col, et, _n=n_pfx:
                                F.size(col) <= _n))
        elif isinstance(items, dict):
            builders = self._value_builders(items, f"{sp}/items",
                                            errors_only=False)
            n_prefix = pfx_offset
            if builders:
                def build_items(col, et, _b=tuple(builders), _n=n_prefix):
                    return F.forall(_after(col, _n), lambda x: _reduce_and(
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
            per_pos = [self._value_builders(s, f"{sp}/{tuple_kw}/{i}",
                                            errors_only=False)
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
                builders = self._value_builders(
                    addl, f"{sp}/additionalItems", errors_only=False)
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
        if isinstance(contains, (dict, bool)):
            if contains is True or contains == {}:
                builders = []         # matches every element
            elif contains is False:
                builders = [lambda col, dt: F.lit(False)]  # matches none
            else:
                builders = self._value_builders(
                    contains, f"{sp}/contains", errors_only=False)
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

    @staticmethod
    def _obj_present(col, dt: T.DataType, k: str):
        """Presence of key ``k`` in an object (the row when ``col`` is
        None), or None when the value isn't an object (dependent
        keywords then no-op)."""
        if isinstance(dt, T.StructType):
            return (_field(col, k).isNotNull()
                    if k in dt.names else F.lit(False))
        if isinstance(dt, T.MapType):
            return F.map_contains_key(col, F.lit(k))
        return None

    @staticmethod
    def _obj_strval_eq(col, dt: T.DataType, k: str, v: str):
        """key ``k`` holds STRING value ``v`` (propertyDependencies
        trigger), or None when the value isn't an object."""
        if isinstance(dt, T.StructType):
            if k in dt.names and isinstance(dt[k].dataType, T.StringType):
                return _field(col, k).eqNullSafe(F.lit(v))
            return F.lit(False)
        if isinstance(dt, T.MapType):
            val = F.element_at(col, F.lit(k))
            if isinstance(dt.valueType, T.VariantType):
                return (F.schema_of_variant(val).eqNullSafe("STRING")
                        & F.try_variant_get(val, "$", "string")
                        .eqNullSafe(F.lit(v)))
            if isinstance(dt.valueType, T.StringType):
                return val.eqNullSafe(F.lit(v))
            return F.lit(False)
        return None

    def _compile_dependent_keywords(self, name: str, sub: dict, sp: str):
        """dependentRequired / dependentSchemas (2019+), the combined
        pre-2019 `dependencies` and draft-next propertyDependencies over
        an object position (interp parity: c_dependencies /
        c_dependent_required / c_dependent_schemas /
        c_property_dependencies; reference property.cljc:812-911)."""
        row = name is self._ROW_CHECK

        def add(kw, dsp, msg, trigger, ok):
            def build(col, dt, _t=trigger, _ok=ok):
                trig = _t(col, dt)
                if trig is None:
                    return F.lit(True)
                return F.when(trig, _ok(col, dt)).otherwise(F.lit(True))
            self._add(name, kw, dsp, msg, "error", _only("object", build))

        def req_check(kw, key, needs, dsp):
            add(kw, dsp, f"property {key!r} requires {list(needs)!r}",
                lambda col, dt, _k=key: self._obj_present(col, dt, _k),
                lambda col, dt, _n=tuple(needs): _reduce_and(
                    [self._obj_present(col, dt, n) for n in _n]))

        def schema_check(kw, trigger, s, dsp, msg):
            # errors-only (in-place applicator branch semantics): a
            # warning inside the dependent schema never fails it
            pred = self._fragment_pred(s, dsp, row)
            add(kw, dsp, msg, trigger,
                lambda col, dt, _p=pred: _p(col, dt).eqNullSafe(True))

        def present(key):
            return lambda col, dt: self._obj_present(col, dt, key)

        dr = sub.get("dependentRequired")
        if isinstance(dr, dict):
            for k, needs in dr.items():
                if isinstance(needs, list):
                    req_check("dependentRequired", k,
                              [x for x in needs if isinstance(x, str)],
                              f"{sp}/dependentRequired/{k}")
        ds = sub.get("dependentSchemas")
        if isinstance(ds, dict):
            for k, s in ds.items():
                if isinstance(s, (dict, bool)):
                    schema_check("dependentSchemas", present(k), s,
                                 f"{sp}/dependentSchemas/{k}",
                                 f"dependent schema for {k!r} failed")
        deps = sub.get("dependencies")
        if isinstance(deps, dict):
            for k, v in deps.items():
                dsp = f"{sp}/dependencies/{k}"
                if isinstance(v, str):
                    req_check("dependencies", k, [v], dsp)
                elif isinstance(v, list):
                    req_check("dependencies", k,
                              [x for x in v if isinstance(x, str)], dsp)
                elif isinstance(v, (dict, bool)):
                    schema_check("dependencies", present(k), v, dsp,
                                 f"{'dependency' if row else 'dependent'} "
                                 f"schema for {k!r} failed")
        # key k holding string value v triggers the (k, v) schema
        pdeps = sub.get("propertyDependencies")
        for prop, m in (pdeps.items() if isinstance(pdeps, dict) else ()):
            if not isinstance(m, dict):
                continue
            for sval, s in m.items():
                if isinstance(s, (dict, bool)) and isinstance(sval, str):
                    schema_check(
                        "propertyDependencies",
                        lambda col, dt, _p=prop, _v=sval:
                        self._obj_strval_eq(col, dt, _p, _v),
                        s, f"{sp}/propertyDependencies/{prop}/{sval}",
                        f"dependent schema for {prop}={sval!r} failed")

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
        for ic in self._sub_checks(pschema, psp, jvm_only=True):

            def build(col, dt, _p=pname, _b=ic.build):
                f, ft = _struct_field(col, dt, _p)
                if f is None:
                    return F.lit(True)
                return F.when(f.isNull(), F.lit(True)).otherwise(_b(f, ft))

            def value_of(col, dt, _p=pname, _iv=ic.value_of):
                f, ft = _struct_field(col, dt, _p)
                if f is None:
                    return F.lit(None)
                return _iv(f, ft) if _iv is not None else f

            idp = ic.doc_path if ic.doc_path is not None else "/_e"
            self._add(name, ic.keyword, ic.schema_path, ic.message, ic.level,
                      _only("object", build), null_passes=False,
                      doc_path=join_pointer("", name, pname)
                      + idp[len("/_e"):],
                      value_of=value_of)

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

    def _claim_patterns(self, frag) -> dict:
        """pattern -> (java_rlike, compiled_python) for each
        patternProperties key — ECMA-invalid patterns are ignored by
        both engines."""
        out = {}
        pp = frag.get("patternProperties")
        if isinstance(pp, dict):
            for pat in pp:
                try:
                    out[pat] = (java_pattern(pat), compile_ecma_pattern(pat))
                except re.error:
                    continue
        return out

    def _object_claims(self, frag, sp, row, top=False):
        """{names, patterns, all_keys, branches} claim structure for an
        object fragment at an object position (``row``: the table row,
        else a struct/map column); branch preds are fn(col, dt) ->
        Column."""
        if not isinstance(frag, dict):
            return {"names": (), "patterns": (), "all_keys": False,
                    "branches": ()}
        frag = self._active(frag)
        unsafe = [k for k in frag if k in self._UNLOWERED]
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
            preds = [self._fragment_pred(b, f"{sp}/{comb}/{i}", row)
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
                                 self._object_claims(b, bsp, row)))
        # if/then/else claims (c_if parity): a successful `if`
        # contributes; the taken arm contributes only when IT succeeds
        if isinstance(frag.get("if"), (dict, bool)):
            if_p = self._fragment_pred(frag["if"], f"{sp}/if", row)
            if isinstance(frag["if"], dict):
                branches.append((if_p, self._object_claims(
                    frag["if"], f"{sp}/if", row)))
            for arm, taken in (("then", True), ("else", False)):
                a = frag.get(arm)
                if not isinstance(a, dict):
                    continue
                arm_p = self._fragment_pred(a, f"{sp}/{arm}", row)

                def gated(col, dt, _i=if_p, _a=arm_p, _t=taken):
                    cond = _i(col, dt)
                    return (cond if _t else ~cond) & _a(col, dt)

                branches.append((gated, self._object_claims(
                    a, f"{sp}/{arm}", row)))
        # dependentSchemas claims (c_dependent_schemas parity): the
        # dependent schema contributes on (key present AND it succeeds)
        ds = frag.get("dependentSchemas")
        if isinstance(ds, dict):
            for k, s in ds.items():
                if not isinstance(s, dict) or s == {}:
                    continue  # bool/empty: claims nothing
                dsp = f"{sp}/dependentSchemas/{k}"
                s_pred = self._fragment_pred(s, dsp, row)

                def ds_gated(col, dt, _k=k, _p=s_pred):
                    trig = self._obj_present(col, dt, _k)
                    if trig is None:
                        return F.lit(False)
                    return trig & _p(col, dt).eqNullSafe(True)

                branches.append((ds_gated,
                                 self._object_claims(s, dsp, row)))
        # propertyDependencies claims: (key holds the string) AND the
        # dependent schema succeeds
        pdeps = frag.get("propertyDependencies")
        if isinstance(pdeps, dict):
            for prop, m in pdeps.items():
                if not isinstance(m, dict):
                    continue
                for sval, s in m.items():
                    if not isinstance(s, dict) or s == {} \
                            or not isinstance(sval, str):
                        continue
                    psp = f"{sp}/propertyDependencies/{prop}/{sval}"
                    s_pred = self._fragment_pred(s, psp, row)

                    def pd_gated(col, dt, _p=prop, _v=sval, _s=s_pred):
                        trig = self._obj_strval_eq(col, dt, _p, _v)
                        if trig is None:
                            return F.lit(False)
                        return trig & _s(col, dt).eqNullSafe(True)

                    branches.append((pd_gated,
                                     self._object_claims(s, psp, row)))
        # a nested (non-top) unevaluatedProperties evaluates every
        # residual key itself, so a SUCCESSFUL branch carrying one has
        # claimed the whole key set — same shape as additionalProperties
        all_keys = "additionalProperties" in frag or (
            not top and "unevaluatedProperties" in frag)
        return {"names": names,
                "patterns": tuple(self._claim_patterns(frag).values()),
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

    def _fragment_pred(self, frag, sp, row=False, errors_only=True):
        """fn(col, dt) -> branch-success Column: every check of object
        fragment ``frag`` passes at this position (``row``: ``frag`` is
        compiled as the row schema, else as the value of a column).
        ``errors_only``: warnings don't fail a branch, matching the
        interpreter's in-place applicators that forward inner errors."""
        if not row:
            builders = self._value_builders(frag, sp, errors_only)
        elif frag is False:
            return lambda col, dt: F.lit(False)
        else:
            builders = [lambda col, dt, _c=c: self._check_ok(_c, dt)
                        for c in self._sub_checks(frag, sp, name=None,
                                                  errors_only=errors_only)]
        return lambda col, dt: _reduce_and(
            [b(col, dt).eqNullSafe(True) for b in builders])

    def _value_builders(self, frag, sp, errors_only=True):
        """JVM builders for the checks of a value-position fragment
        (items, patternProperties/additionalProperties values, branch
        predicates); ``errors_only`` drops warning-level checks."""
        if frag is False:
            return (lambda col, dt: F.lit(False),)
        return tuple(c.build for c in self._sub_checks(
            frag, sp, errors_only=errors_only, jvm_only=True))

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
        if up is None or up is True or up == {}:
            return  # evaluates everything, never fails
        if "additionalProperties" in sub:
            return  # adjacent AP claims every key; uP can never fire
        row = name is self._ROW_CHECK
        claims = self._object_claims(sub, sp, row, top=True)
        usp = f"{sp}/unevaluatedProperties"
        ub = None if up is False else (
            self._value_builders(up, usp) if isinstance(up, dict) else None)
        if up is not False and ub is None:
            return

        def build(col, dt, _c=claims, _b=ub):
            if isinstance(dt, T.MapType):
                unev = F.array_except(F.map_keys(col),
                                      self._claimed_keys(_c, col, dt))
                if _b is None:
                    return F.size(unev) == 0
                return F.forall(unev, lambda k: _reduce_and(
                    [bb(F.element_at(col, k), dt.valueType)
                        .eqNullSafe(True) for bb in _b]))
            oks = []
            for f in _fields(dt):
                val = _field(col, f.name)
                ok = val.isNull() | self._claimed_field(_c, f.name, col, dt)
                if _b is not None:
                    ok = ok | _reduce_and(
                        [bb(val, f.dataType).eqNullSafe(True) for bb in _b])
                oks.append(ok)
            return _reduce_and(oks)

        self._add(name, "unevaluatedProperties", usp,
                  f"{'column' if row else 'property'} not evaluated by any "
                  f"schema", "error", _only("object", build))

    def _array_claims(self, frag, sp, top=False):
        """{n_prefix, all_items, contains, branches} claim structure for
        an array fragment; 2020-12 contains claims its matches."""
        if not isinstance(frag, dict):
            return {"n_prefix": 0, "all_items": False, "contains": None,
                    "branches": ()}
        frag = self._active(frag)
        unsafe = [k for k in frag if k in self._UNLOWERED]
        if unsafe:
            self.unsupported.append(
                f"{sp} (unevaluated* claim algebra cannot model "
                f"{sorted(set(unsafe))})")
            return {"n_prefix": 0, "all_items": False, "contains": None,
                    "branches": ()}
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
            contains = self._value_builders(frag["contains"],
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
        if ui is None or ui is True or ui == {}:
            return
        claims = self._array_claims(sub, sp, top=True)
        usp = f"{sp}/unevaluatedItems"
        ub = None if ui is False else (
            self._value_builders(ui, usp) if isinstance(ui, dict) else None)
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
                  _only("array", build))

    def _compile_combinator(self, name, comb, subs, sp):
        row = name is self._ROW_CHECK
        if comb == "allOf":
            # pure conjunction: flatten every branch's checks to
            # first-class checks with their precise inner schema paths —
            # the interpreter propagates inner violations verbatim
            # (core.py c_all_of), and the flat form also keeps each
            # predicate in the same codegen stage with no wrapper expr.
            # A row branch compiles onto this row; a column branch
            # compiles apart (its content-decode columns stay its own)
            for i, s in enumerate(subs):
                if row:
                    self._compile_property(name, s, f"{sp}/{i}")
                else:
                    self.checks.extend(self._sub_checks(
                        s, f"{sp}/{i}", name=name))
            return
        preds = [self._fragment_pred(s, f"{sp}/{i}", row, errors_only=False)
                 for i, s in enumerate(subs)
                 if isinstance(s, (dict, bool))]

        def build(col, dt, _p=tuple(preds), _comb=comb):
            branch = [p(col, dt) for p in _p]
            if _comb == "anyOf":
                return _reduce_or(branch)
            return _count(branch) == 1

        self._add(name, comb, sp, f"{comb} constraint failed", "error",
                  build)

    # -- application --------------------------------------------------------

    def apply(self, df: DataFrame, out_valid: str = "valid",
              out_violations: str = "violations") -> DataFrame:
        return self._apply(df, (), out_valid, out_violations)

    def _apply(self, df: DataFrame, moved: tuple, out_valid: str = "valid",
               out_violations: str = "violations") -> DataFrame:
        """:meth:`apply` without the ``moved`` columns' presence checks."""
        # expression memo (m3spark.memo), expressions only: keyed on the
        # SparkContext, this validator, the ordered input dtypes and
        # the output names
        added, viol_arr, valid_col = expr_memo(
            self, df.dtypes, (out_valid, out_violations, moved),
            lambda: self._build_apply(df, out_violations, [
                c for c in self.checks if c.presence not in moved]))
        for dname, build_col in added:
            df = df.withColumn(dname, build_col)
        df = df.withColumn(out_violations, viol_arr)
        df = df.withColumn(out_valid, valid_col)
        if added:
            df = df.drop(*[n for n, _ in added])
        return df

    def _build_apply(self, df: DataFrame, out_violations: str,
                     checks: list[Check]):
        """(derived columns, violations array, valid) Columns for
        :meth:`apply` of ``checks`` over ``df``'s shape."""
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
        for c in checks:
            ok = self._check_ok(c, df.schema)
            if c.column is self._ROW_CHECK and c.value_of is not None:
                # the row document (required): JSON text already
                val_expr = F.substring(c.value_of(None, df.schema), 1, 128)
            elif (c.column is self._ROW_CHECK or c.column not in dtypes
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
                      else f"/{c.column or ''}").alias("doc_path"),
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

    def _check_ok(self, c: Check, row: T.StructType) -> Column:
        """Check ``c``'s pass predicate over a table whose row type is
        ``row``."""
        if c.column is self._ROW_CHECK:
            return c.build(None, row)
        if c.column not in row.names:
            # column absent from the table: a missing value passes
            # (presence semantics; the row's `required` reports it)
            return F.lit(True)
        return c.build(F.col(c.column), row[c.column].dataType)

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
        return self._prefilter(df, ())

    def _prefilter(self, df: DataFrame, moved: tuple) -> DataFrame:
        if self.derived:
            raise ValueError("violation_prefilter does not support "
                             "schemas with content keywords")

        def build():
            return _reduce_or([~self._check_ok(c, df.schema).eqNullSafe(True)
                               for c in self.checks
                               if c.presence not in moved])

        return df.where(expr_memo(self, df.dtypes, (moved,), build))

    def null_only(self, df: DataFrame, carried=()) -> list[str]:
        """The binary columns of ``df`` that only their row presence
        checks read (row checks do not declare the columns they read,
        so any other row check reads them all) and that the caller does
        not carry (``carried``: the key, say).  One that stays is
        logged with the reason."""
        dtypes = dict(df.dtypes)
        out = []
        for k in dict.fromkeys(c.presence for c in self.checks
                               if dtypes.get(c.presence) == "binary"):
            reader = next((c.keyword for c in self.checks
                           if c.presence is None
                           and c.column in (k, self._ROW_CHECK)), None)
            if k in carried or reader:
                _log.info("binary column %r stays in the value scan: %s", k,
                          "the caller carries it" if k in carried
                          else f"the {reader!r} check reads it")
            else:
                out.append(k)
        return out

    def violation_scans(self, df: DataFrame, carried=(), prefilter=True):
        """(value scan, null-only scan, moved, prefilter_skipped) over
        ``df``, split on its :meth:`null_only` columns (``moved``): the
        value scan applies every check but their presence checks to
        ``df`` without them (``prefilter``: to the rows
        :meth:`violation_prefilter` passes, unless ``prefilter_skipped``
        says why not); the null-only scan (or None) is ``df`` where one
        is NULL, which parquet answers from row-group statistics, with
        ``violations`` of those presence checks and ``other_err`` (an
        error-level check of the value scan fails)."""
        moved = tuple(self.null_only(df, carried))
        value, skipped = df.drop(*moved), None
        if prefilter:
            try:
                value = self._prefilter(value, moved)
            except ValueError as e:
                skipped = str(e)
        value = self._apply(value, moved)
        if not moved:
            return value, None, moved, skipped

        def build():
            _, viols, _ = self._build_apply(
                df, "violations",
                [c for c in self.checks if c.presence in moved])
            return (_reduce_or([F.col(k).isNull() for k in moved]), viols,
                    _reduce_or([~self._check_ok(c, df.schema).eqNullSafe(True)
                                for c in self.checks if c.level == "error"
                                and c.presence not in moved]))

        null_any, viols, other_err = expr_memo(
            self, df.dtypes, ("null_only", moved), build)
        return (value, df.where(null_any).withColumn("violations", viols)
                .withColumn("other_err", other_err), moved, skipped)

    def violation_rows(self, df: DataFrame, key_col: str) -> DataFrame:
        """The north-star violation table: (key, keyword, path, message,
        offending value), from both :meth:`violation_scans`, unfiltered:
        where most rows violate, a prefilter runs the checks twice."""
        value, nulls, _, _ = self.violation_scans(df, (key_col,),
                                                  prefilter=False)
        out = violation_rows(value, key_col)
        return out if nulls is None else out.unionByName(
            violation_rows(nulls, key_col))


def _field(col, name: str) -> Column:
    """Field ``name`` of an object: a column of the table row when
    ``col`` is None, else a field of struct column ``col``."""
    return F.col(name) if col is None else col.getField(name)


def _fields(dt: T.DataType):
    """The static fields of an object type (the row's or a struct's);
    none for any other type."""
    return dt.fields if isinstance(dt, T.StructType) else ()


def _field_ok(v: Column, vt: T.DataType, builders) -> Column:
    """Field value ``v`` is missing (NULL) or passes every builder."""
    return v.isNull() | _reduce_and(
        [b(v, vt).eqNullSafe(True) for b in builders])


def _additional_keys(col: Column, named: tuple, pats: tuple) -> Column:
    """The keys of map ``col`` that are neither ``named`` nor match one
    of the ``pats`` (java pattern, compiled) patterns."""
    keys = F.map_keys(col)
    if named:
        keys = F.array_except(keys, F.array(*[F.lit(k) for k in named]))
    for jp, _ in pats:
        keys = F.filter(keys, _not_rlike(jp))
    return keys


def _after(arr: Column, n: int) -> Column:
    """The elements of array ``arr`` past its first ``n``."""
    if n == 0:
        return arr
    return F.slice(arr, n + 1, F.greatest(F.size(arr) - n, F.lit(0)))


def _not_rlike(jpat: str):
    # no default-arg capture: PySpark counts lambda params to decide
    # whether to pass the element index
    return lambda k: ~k.rlike(jpat)


def _count(preds: list[Column]) -> Column:
    """How many of ``preds`` are true (NULL counts as false)."""
    counts = [F.when(p, 1).otherwise(0) for p in preds]
    if not counts:
        return F.lit(0)
    out = counts[0]
    for x in counts[1:]:
        out = out + x
    return out


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
                return col == F.lit(Decimal(x))
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


def _holds(dt: T.DataType, kinds) -> bool:
    """``dt`` is, or holds as an element, value or field, a ``kinds``
    type."""
    if isinstance(dt, kinds):
        return True
    if isinstance(dt, T.ArrayType):
        return _holds(dt.elementType, kinds)
    if isinstance(dt, T.MapType):
        return _holds(dt.valueType, kinds)
    if isinstance(dt, T.StructType):
        return any(_holds(f.dataType, kinds) for f in dt.fields)
    return False


def _no_variant_eq(sp: str, dt: T.DataType) -> None:
    """SQL has no equality on VARIANT values: a keyword comparing whole
    arrays or objects over a type holding a VARIANT raises at apply(),
    as the unroll guard does, so the table routes to the interpreter."""
    if _holds(dt, T.VariantType):
        raise UnsupportedKeyword(
            f"{sp} over {dt.simpleString()} (SQL has no equality on "
            f"VARIANT values)")


def _has_object(x) -> bool:
    """JSON value ``x`` is or holds an object."""
    return isinstance(x, dict) or (
        isinstance(x, list) and any(_has_object(e) for e in x))


def _no_literal_eq(sp: str, lits, dt: T.DataType) -> None:
    """Raises at apply() when ``enum``/``const`` literals ``lits`` cannot
    be compared in SQL over a value of type ``dt``: an array or object
    literal over a type holding a VARIANT (:func:`_no_variant_eq`), or
    an object literal over a type holding a struct or map (the row
    included): object literals have no lowering, and
    :func:`_value_compat` would call every such value unequal."""
    if any(isinstance(x, (list, dict)) for x in lits):
        _no_variant_eq(sp, dt)
    if any(_has_object(x) for x in lits) \
            and _holds(dt, (T.StructType, T.MapType)):
        raise UnsupportedKeyword(
            f"{sp} over {dt.simpleString()} (object literal: no JSON "
            f"equality on struct or map values)")


def _object_json(col, dt: T.DataType) -> Column:
    """An object as compact JSON text, NULL fields omitted (= absent):
    the value of a ``required`` violation, as the interpreter renders
    the object missing the key (the row when ``col`` is None)."""
    if col is None:
        return F.to_json(F.struct(*[F.col(n) for n in dt.names]))
    if isinstance(dt, (T.StructType, T.MapType)):
        return F.to_json(col)
    return F.lit(None)


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


def _at_value(build, null_passes: bool):
    """``build`` at a value position.  A missing value (SQL NULL) passes
    when ``null_passes``.  A VARIANT value runs ``build`` on its typed
    view, chosen by JSON kind (:data:`_VIEWS`), for each kind the build
    constrains (``_on``, see :func:`_only`); a typed builder folds to a
    literal for the types it does not constrain, and the view's map
    values and array elements are VARIANTs again."""
    on = getattr(build, "_on", None)
    # a builder whose verdict a VARIANT's typed views cannot decide
    no_variant = getattr(build, "_no_variant", None)

    def at(col, dt):
        if not isinstance(dt, T.VariantType):
            if null_passes:
                return F.when(col.isNull(), F.lit(True)) \
                        .otherwise(build(col, dt))
            return build(col, dt)
        if no_variant:
            raise UnsupportedKeyword(no_variant)
        out = F.when(col.isNull(), F.lit(True) if null_passes
                     else build(col, dt))
        kind = F.schema_of_variant(col)
        for name, is_kind, t in _VIEWS:
            if on in (None, name):
                # a JSON null is present: its view is the value itself
                view = col if name == "null" else F.try_variant_get(
                    col, "$", t.simpleString())
                out = out.when(is_kind(kind), build(view, t))
        return out.otherwise(F.lit(True))
    at._jvm = getattr(build, "_jvm", True)
    return at


# JSON kind -> its test on schema_of_variant and the Spark type its value
# is read as; numbers that are not BIGINT read as double, as the
# interpreter's json.loads floats.  try_variant_get converts across
# kinds (true -> 1.0), so the kind test guards each view.
_VIEWS = (
    ("object", lambda k: k.startswith("OBJECT"),
     T.MapType(T.StringType(), T.VariantType())),
    ("array", lambda k: k.startswith("ARRAY"), T.ArrayType(T.VariantType())),
    ("null", lambda k: k == "VOID", T.NullType()),
    ("string", lambda k: k == "STRING", T.StringType()),
    ("number", lambda k: k == "BIGINT", T.LongType()),
    ("number", lambda k: (k == "DOUBLE") | k.startswith("DECIMAL"),
     T.DoubleType()),
    ("boolean", lambda k: k == "BOOLEAN", T.BooleanType()),
)


def _only(kind: str, build):
    """``build``, tagged as constraining only JSON ``kind`` values: over a
    VARIANT, :func:`_at_value` builds it on that kind's view alone."""
    build._on = kind
    return build


def _numeric_only(build):
    """JSON Schema numeric keywords constrain only numbers: on any other
    column type they pass statically (and never emit an ANSI cast)."""
    def guarded(col, dt):
        if not isinstance(dt, _NUMERIC):
            return F.lit(True)
        return build(col, dt)
    guarded._jvm = getattr(build, "_jvm", True)
    return _only("number", guarded)


# -- content-keyword helpers ------------------------------------------------

# structural base64 per RFC 4648 §4 with mandatory padding — matches the
# interpreter's base64.b64decode(validate=True) acceptance exactly
# (whitespace and out-of-alphabet chars reject; empty string accepts)
_B64_STRUCT_PATTERN = ("^(?:[A-Za-z0-9+/]{4})*"
                       "(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$")


def _b64_ok(col: Column) -> Column:
    """Valid base64 AND the decoded bytes are valid UTF-8 (the interp
    decodes to str; the decode alone is lenient, hence the rlike gate)."""
    return col.rlike(_B64_STRUCT_PATTERN) & \
        F.is_valid_utf8(F.try_to_binary(col, F.lit("base64")))


def _string_only(build):
    def guarded(col, dt):
        if not isinstance(dt, T.StringType):
            return F.lit(True)
        return build(col, dt)
    guarded._jvm = getattr(build, "_jvm", True)
    return _only("string", guarded)


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

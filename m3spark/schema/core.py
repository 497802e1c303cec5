"""Compile-once / validate-many JSON Schema engine (driver-side core).

This is a from-scratch re-expression of the reference's two-level curried
design (m3: src/cljc/m3/validate.cljc:26-43 — compile-time ``checker`` →
runtime ``f1``): ``compile_schema(schema)`` walks the schema ONCE on the
Spark driver and returns a :class:`CompiledSchema` holding a tree of plain
Python closures.  Validation of a single parsed-JSON value is then pure
closure application — no schema interpretation in the hot loop.

Inside Spark this core is used two ways:

* directly, for compile-time work ($ref resolution, draft dispatch,
  constraint extraction for the columnar compiler), and
* pickled into Arrow-batched pandas UDFs as the vectorized fallback
  validator for arbitrarily nested JSON documents
  (see :mod:`m3spark.sparkval`) — batched per Arrow chunk, never
  row-at-a-time over py4j.

Draft coverage mirrors the reference (README.md:92-102): draft-03, -04,
-06, -07, 2019-09, 2020-12, and "next"/v1.  Violations carry the same
shape as m3's error objects (util.cljc:106-115): keyword, schema path,
document path, message, with three severity levels (errors / warnings /
infos — only errors affect validity, README.md:229-262).
"""

from __future__ import annotations

import base64
import binascii
import json
import re
from dataclasses import dataclass
from typing import Any, Callable, Optional

from .jsontypes import (
    is_integer_loose,
    is_multiple_of,
    is_number,
    json_eq,
    json_length,
    json_type,
    type_check,
    unique_items,
)
from .formats import FORMATS
from .uris import join_pointer, pointer_get, resolve_uri, split_fragment

# --------------------------------------------------------------------------
# drafts


DRAFT3, DRAFT4, DRAFT6, DRAFT7, D2019, D2020, DNEXT = (
    "draft3", "draft4", "draft6", "draft7", "draft2019-09", "draft2020-12",
    "draft-next",
)
DRAFT_ORDER = [DRAFT3, DRAFT4, DRAFT6, DRAFT7, D2019, D2020, DNEXT]

_SCHEMA_URI_TO_DRAFT = {
    "http://json-schema.org/draft-03/schema": DRAFT3,
    "http://json-schema.org/draft-04/schema": DRAFT4,
    "http://json-schema.org/draft-06/schema": DRAFT6,
    "http://json-schema.org/draft-07/schema": DRAFT7,
    "https://json-schema.org/draft/2019-09/schema": D2019,
    "https://json-schema.org/draft/2020-12/schema": D2020,
    "https://json-schema.org/draft/next/schema": DNEXT,
}


def draft_of(schema: Any, default: str = D2020) -> str:
    if isinstance(schema, dict):
        s = schema.get("$schema")
        if isinstance(s, str):
            base, _ = split_fragment(s)
            d = _SCHEMA_URI_TO_DRAFT.get(base.rstrip("#"))
            if d:
                return d
    return default


def _ge(draft: str, other: str) -> bool:
    return DRAFT_ORDER.index(draft) >= DRAFT_ORDER.index(other)


# --------------------------------------------------------------------------
# violations & results


@dataclass(frozen=True)
class Violation:
    keyword: str
    schema_path: str
    doc_path: str
    message: str
    level: str = "error"  # error | warning | info
    # the offending instance value (truncated textual form), parity with
    # the reference's errors carrying :document (util.cljc:106-115).
    # Rendering matches Spark's cast-to-string (Java Double.toString for
    # floats) so the columnar engine produces identical strings.
    value: str | None = None


def _java_num_str(x: float) -> str:
    """Java ``Double.toString`` / Spark ``cast(double as string)``
    emulation: shortest round-trip digits; plain decimal for
    1e-3 <= |x| < 1e7, else ``d.dddE±e``."""
    import math
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0.0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    from decimal import Decimal
    d = Decimal(repr(abs(x)))
    sign = "-" if x < 0 else ""
    ds = "".join(map(str, d.as_tuple().digits)).rstrip("0") or "0"
    adj = d.adjusted()
    if -3 <= adj < 7:
        if adj >= 0:
            intpart = ds[:adj + 1].ljust(adj + 1, "0")
            frac = ds[adj + 1:] or "0"
        else:
            intpart = "0"
            frac = "0" * (-adj - 1) + ds
        return f"{sign}{intpart}.{frac}"
    return f"{sign}{ds[0]}.{ds[1:] or '0'}E{adj}"


_VALUE_TRUNC = 128


def _fmt_value(v: Any) -> str | None:
    """Textual instance value for violation rows (truncated)."""
    if v is None:
        return None
    if isinstance(v, bool):
        s = "true" if v else "false"
    elif isinstance(v, float):
        s = _java_num_str(v)
    elif isinstance(v, str):
        s = v
    elif isinstance(v, (int,)):
        s = str(v)
    else:
        import json as _json
        try:
            s = _json.dumps(v, separators=(",", ":"), ensure_ascii=False,
                            default=str)
        except (TypeError, ValueError):
            s = str(v)
    return s[:_VALUE_TRUNC]


@dataclass
class ValidationResult:
    valid: bool
    errors: list
    warnings: list
    infos: list


class SchemaError(Exception):
    """Raised at compile time for unresolvable/ill-formed schemas."""


# Annotation state propagated upward: (evaluated property names,
# evaluated item indices).  None means "no annotations".
Ann = Optional[tuple]


def _merge(a: Ann, b: Ann) -> Ann:
    if b is None:
        return a
    if a is None:
        return (set(b[0]), set(b[1]))
    a[0].update(b[0])
    a[1].update(b[1])
    return a


# --------------------------------------------------------------------------
# runtime context


class _Rt:
    """Per-validation runtime state: the dynamic scope chain of schema
    resources entered (for $dynamicRef/$recursiveRef, compare the
    reference's ``$dynamic-scope-chain``: property.cljc:211-216) plus an
    application-depth counter guarding degenerate $ref cycles."""

    __slots__ = ("scope", "depth")

    MAX_DEPTH = 2500  # schema applications, ~tracks document depth

    def __init__(self, root_uri: str):
        self.scope = [root_uri]
        self.depth = 0


class _DepthExceeded(Exception):
    pass


class Compiled:
    """A compiled schema node: a callable ``(value, path, rt) ->
    (errors, ann)``.  ``fn`` is assigned after construction so recursive
    $refs can close over the wrapper before the body exists."""

    __slots__ = ("fn", "resource_uri")

    def __init__(self, resource_uri: str):
        self.fn = None
        self.resource_uri = resource_uri

    def __call__(self, value, path, rt):
        rt.depth += 1
        if rt.depth > _Rt.MAX_DEPTH:
            raise _DepthExceeded(path)
        uri = self.resource_uri
        try:
            if rt.scope[-1] != uri:
                rt.scope.append(uri)
                try:
                    return self.fn(value, path, rt)
                finally:
                    rt.scope.pop()
            return self.fn(value, path, rt)
        finally:
            rt.depth -= 1


# --------------------------------------------------------------------------
# resource indexing (the $id / $anchor / $dynamicAnchor registry)


_SUBSCHEMA_SINGLE = (
    "additionalProperties", "additionalItems", "unevaluatedProperties",
    "unevaluatedItems", "propertyNames", "contains", "if", "then", "else",
    "not", "contentSchema", "items",
)
_SUBSCHEMA_MAP = ("properties", "patternProperties", "$defs", "definitions",
                  "dependentSchemas")
_SUBSCHEMA_LIST = ("allOf", "anyOf", "oneOf", "prefixItems")


def _iter_subschemas(node: dict):
    """Yield child schema nodes of a schema object (draft-agnostic union)."""
    for k in _SUBSCHEMA_SINGLE:
        v = node.get(k)
        if isinstance(v, (dict, bool)):
            yield v
        elif k == "items" and isinstance(v, list):
            yield from (x for x in v if isinstance(x, (dict, bool)))
    for k in _SUBSCHEMA_MAP:
        v = node.get(k)
        if isinstance(v, dict):
            yield from (x for x in v.values() if isinstance(x, (dict, bool)))
    for k in _SUBSCHEMA_LIST:
        v = node.get(k)
        if isinstance(v, list):
            yield from (x for x in v if isinstance(x, (dict, bool)))
    v = node.get("dependencies")
    if isinstance(v, dict):
        yield from (x for x in v.values() if isinstance(x, (dict, bool)))
    v = node.get("propertyDependencies")
    if isinstance(v, dict):
        for m in v.values():
            if isinstance(m, dict):
                yield from (x for x in m.values() if isinstance(x, (dict, bool)))
    v = node.get("extends")
    if isinstance(v, dict):
        yield v
    elif isinstance(v, list):
        yield from (x for x in v if isinstance(x, (dict, bool)))
    v = node.get("type")  # draft-03 union types may embed schemas
    if isinstance(v, list):
        yield from (x for x in v if isinstance(x, dict))
    v = node.get("disallow")
    if isinstance(v, list):
        yield from (x for x in v if isinstance(x, dict))


def _id_keyword(draft: str) -> str:
    return "id" if draft in (DRAFT3, DRAFT4) else "$id"


class _Index:
    """URI registry and reference resolver for one compilation, used by
    the interpreter and by the columnar ``$ref`` inliner alike
    (reference analog: json_schema.cljc:58-100 uri->schema registry,
    validate.cljc:289-308 ``make-context`` uri stashes, ref.cljc:46-115
    resolution).  A resource outside the document is admitted on its
    first reference: from ``registry``, else from a ``uri_dirs`` file,
    else as a vendored draft meta-schema."""

    def __init__(self, draft: str, registry: dict | None = None,
                 uri_dirs: dict | None = None):
        self.draft = draft
        self.registry = registry or {}
        self.uri_dirs = uri_dirs or {}
        self.root_uri = ""
        self.resources: dict[str, Any] = {}      # defragged uri -> root node
        self.anchors: dict[tuple, Any] = {}       # (resource_uri, name) -> node
        self.dyn_anchors: dict[tuple, Any] = {}
        self.rec_anchor_roots: set[str] = set()   # resources whose root has $recursiveAnchor
        self.node_base: dict[int, str] = {}        # id(node) -> resource uri
        # (kind, key) bound to two different nodes of one kind
        # ("resource", "anchor" or "dynamic"): which binding stands
        # depends on walk order, so only the interpreter resolves these
        self.dups: set[tuple] = set()
        self._pins: list = []                      # keep nodes alive for id()

    def index_root(self, schema: Any, base_uri: str = "") -> str:
        """Index ``schema`` as the document resource; returns its URI."""
        root = base_uri
        if isinstance(schema, dict):
            idv = schema.get(_id_keyword(self.draft))
            if isinstance(idv, str) and not idv.startswith("#"):
                root = split_fragment(
                    resolve_uri(base_uri, idv) if base_uri else idv)[0]
        self.root_uri = root
        self.resources.setdefault(root, schema)
        self.index(schema, root, self.draft)
        return root

    def _bind(self, table: dict, kind: str, key, node,
              first_wins: bool = False):
        """Bind ``key`` to ``node`` in ``table`` (``first_wins``: an
        existing binding stands), noting in ``dups`` a key already bound
        to another node."""
        cur = table.get(key)
        if cur is not None and cur is not node:
            # a hard anchor replacing a $dynamicAnchor's plain binding
            # is precedence, not a duplicate
            if table is not self.anchors or cur is not self.dyn_anchors.get(key):
                self.dups.add((kind, key))
            if first_wins:
                return
        table[key] = node

    def index(self, node: Any, base_uri: str, draft: str) -> str:
        """Walk ``node`` registering $id/$anchor/$dynamicAnchor.  Returns the
        node's effective base URI."""
        if not isinstance(node, dict):
            if isinstance(node, (dict, bool)):
                self.node_base[id(node)] = base_uri
            return base_uri
        self._pins.append(node)
        new_base = base_uri
        idv = node.get(_id_keyword(draft))
        if isinstance(idv, str) and idv:
            resolved = resolve_uri(base_uri, idv) if base_uri else idv
            root_part, frag = split_fragment(resolved)
            if frag:  # fragment-only / fragment-carrying id acts as anchor (draft<=7)
                self._bind(self.anchors, "anchor", (base_uri, frag), node)
                if root_part and root_part != split_fragment(base_uri)[0]:
                    new_base = root_part
                    self._bind(self.resources, "resource", root_part, node)
            else:
                new_base = root_part
                self._bind(self.resources, "resource", root_part, node,
                           first_wins=True)
        self.node_base[id(node)] = new_base
        a = node.get("$anchor")
        if isinstance(a, str):
            self._bind(self.anchors, "anchor", (new_base, a), node)
        da = node.get("$dynamicAnchor")
        if isinstance(da, str):
            self._bind(self.dyn_anchors, "dynamic", (new_base, da), node)
            self.anchors.setdefault((new_base, da), node)
        if node.get("$recursiveAnchor") is True and self.resources.get(new_base) is node:
            self.rec_anchor_roots.add(new_base)
        sub_draft = draft_of(node, draft)
        for child in _iter_subschemas(node):
            self.index(child, new_base, sub_draft)
        return new_base

    # -- resolution --------------------------------------------------------

    def resource(self, uri: str):
        """Root node of resource ``uri`` (no fragment), admitted and
        indexed on first use; None when no source knows it."""
        node = self.resources.get(uri)
        if node is not None:
            return node
        node = self.registry.get(uri)
        if node is None:
            node = self._load_from_dirs(uri)
        if node is None:
            # a standard draft meta-schema: the vendored copy, so
            # validation against it is real
            draft = _SCHEMA_URI_TO_DRAFT.get(uri.rstrip("#"))
            if draft is None:
                return None
            from m3spark.schema.metaschemas import META_BY_DRAFT
            node = META_BY_DRAFT[draft]
        self.resources[uri] = node
        self.index(node, uri, draft_of(node, self.draft))
        return node

    def _load_from_dirs(self, uri: str):
        """Load a schema JSON file for ``uri`` via the ``uri_dirs``
        prefix->directory map (validate.cljc:242-258; '.json' appended
        when missing).  Returns None when unmapped or unreadable."""
        import os
        for prefix, directory in self.uri_dirs.items():
            b = prefix.rstrip("/")
            if uri == b or uri.startswith(b + "/"):
                rel = uri[len(b):].lstrip("/")
                path = os.path.join(directory, rel) if rel else directory
                if not path.endswith(".json"):
                    path += ".json"
                try:
                    with open(path, encoding="utf-8") as f:
                        return json.load(f)
                except (OSError, ValueError):
                    return None
        return None

    @staticmethod
    def _target(ref: str, base_uri: str) -> str:
        return resolve_uri(base_uri, ref) \
            if base_uri or not ref.startswith("#") else ref

    def resolve(self, ref: str, base_uri: str):
        """Static target of reference ``ref`` at ``base_uri`` ->
        (node, resource uri, fragment).  Raises SchemaError when
        unresolvable."""
        target = self._target(ref, base_uri)
        root_part, frag = split_fragment(target)
        node = self.resource(root_part)
        if node is None:
            raise SchemaError(f"unresolvable $ref: {target!r} (base {base_uri!r})")
        if frag and frag.startswith("/"):
            try:
                node = pointer_get(node, frag)
            except (KeyError, IndexError, ValueError) as e:
                raise SchemaError(f"bad $ref pointer {target!r}: {e}") from e
        elif frag:
            node = self.anchors.get((root_part, frag))
            if node is None:
                raise SchemaError(f"unresolvable anchor {target!r}")
        return node, root_part, frag

    def dynamic_ref(self, ref: str, base_uri: str, draft: str):
        """Compile-time half of ``$dynamicRef`` (2020-12: bookended —
        property.cljc:170-197,387-512; draft-next: no bookend required).
        None when it acts as a plain ``$ref``: a pointer fragment, or in
        2020-12 no dynamic anchor of its name in the target resource.
        Otherwise (name, static): ``static`` is the lexical fallback
        target, that resource's dynamic anchor else plain anchor, as
        :meth:`dynamic_target` returns targets, or None."""
        root_part, frag = split_fragment(self._target(ref, base_uri))
        if frag is None or frag.startswith("/") or (
                draft == D2020 and (root_part, frag) not in self.dyn_anchors):
            return None
        for kind, table in (("dynamic", self.dyn_anchors),
                            ("anchor", self.anchors)):
            node = table.get((root_part, frag))
            if node is not None:
                return frag, (node, kind, root_part)
        return frag, None

    def dynamic_target(self, name: str, chain, static):
        """``$dynamicRef`` target under scope ``chain`` (resource uris,
        outermost first): the dynamic anchor ``name`` of the first
        resource in the chain declaring one, else ``static``.  ->
        (node, kind, resource uri), or None."""
        for uri in chain:
            node = self.dyn_anchors.get((uri, name))
            if node is not None:
                return node, "dynamic", uri
        return static

    def recursive_target(self, base_uri: str, chain):
        """``$recursiveRef: "#"`` target under scope ``chain`` (2019-09:
        property.cljc:131-168,302-384): the root of resource
        ``base_uri``, unless that root has ``$recursiveAnchor: true`` —
        then the root of the first resource in the chain that has it.
        -> (node, resource uri)."""
        node = self.resources.get(base_uri)
        if node is None:
            node = self.resources[self.root_uri]
        if base_uri in self.rec_anchor_roots or (
                isinstance(node, dict) and node.get("$recursiveAnchor") is True):
            for uri in chain:
                r = self.resources.get(uri)
                if isinstance(r, dict) and r.get("$recursiveAnchor") is True:
                    return r, uri
        return node, base_uri


# --------------------------------------------------------------------------
# the compiler


_CompileFn = Callable[..., Optional[Callable]]

# compiled meta-schema cache: vendored drafts by name, registry metas by
# object identity (validate-m2 is memoized in the reference too —
# validate.cljc:405-408)
_META_CACHE: dict = {}


def _compiled_meta(draft: str, meta):
    key = id(meta)
    hit = _META_CACHE.get(key)
    if hit is not None and hit[0] is meta:
        return hit[1]
    try:
        cv = CompiledSchema(meta, meta_validate=False)
    except Exception:  # malformed registry meta-schema: skip m2 check
        cv = None
    _META_CACHE[key] = (meta, cv)
    return cv


def meta_validate_schema(schema, draft: str | None = None,
                         registry: dict | None = None) -> list:
    """Standalone validate-m2 (validate.cljc:354-403): validate a schema
    against its governing meta-schema (vendored draft meta-schema, or a
    registry entry for a custom ``$schema`` URI).  Returns wrapped
    meta-error Violations; empty when the schema is valid or no
    meta-schema is available (reference fallback: compile anyway).
    Shared by the interpreter (CompiledSchema) and the columnar
    compiler so both engines reject the same schemas."""
    if not isinstance(schema, dict):
        return []
    from m3spark.schema.metaschemas import META_BY_DRAFT
    draft = draft or draft_of(schema)
    registry = registry or {}
    s_uri = schema.get("$schema")
    if isinstance(s_uri, str):
        base = s_uri.rstrip("#")
        if base in _SCHEMA_URI_TO_DRAFT:
            meta = META_BY_DRAFT.get(_SCHEMA_URI_TO_DRAFT[base])
        else:
            meta = registry.get(s_uri) or registry.get(base)
    else:
        meta = META_BY_DRAFT.get(draft)
    if meta is None or meta is schema or meta == schema:
        return []  # unknown meta, or we ARE the meta-schema (top)
    cv = _compiled_meta(draft, meta)
    if cv is None:
        return []
    r = cv.validate(schema)
    return [
        Violation("$schema", e.schema_path, e.doc_path,
                  f"schema is invalid against its meta-schema at "
                  f"{e.doc_path or '/'}: {e.message}", "error", e.value)
        for e in r.errors]


class CompiledSchema:
    """Driver-side compiled artifact — the analog of the reference's
    ``validator`` entry point (json_schema.cljc:165-189, compile-once /
    validate-many: README.md:124-126)."""

    def __init__(self, schema: Any, draft: str | None = None,
                 registry: dict | None = None,
                 format_assertion: bool | None = None,
                 formats: dict | None = None,
                 base_uri: str = "",
                 meta_validate: bool = True,
                 vocabulary: dict | None = None,
                 uri_dirs: dict | None = None):
        self.schema = schema
        self.draft = draft or draft_of(schema)
        self.registry = dict(registry or {})
        # remote-schema loading: uri prefix -> local schema directory
        # (validate.cljc:237-258 uri-base->dir)
        self.uri_dirs = dict(uri_dirs or {})
        self.formats = dict(FORMATS)
        if formats:
            self.formats.update(formats)
        # $vocabulary dialect: restrict compiled keywords to the active
        # vocabularies (vocabulary.cljc:131-139, 588-597); None = all
        self._allowed_keywords = None
        if vocabulary is None and isinstance(schema, dict):
            vocabulary = self._meta_vocabulary(schema)
        if vocabulary is not None:
            from m3spark.schema.vocabulary import dialect_keywords
            allowed, fmt_assert = dialect_keywords(vocabulary, self.draft)
            self._allowed_keywords = allowed
            if format_assertion is None and fmt_assert is not None:
                format_assertion = fmt_assert
        # validate-m2: check the schema against its draft meta-schema
        # (validate.cljc:354-403).  Failures don't raise — every document
        # validation reports the meta-errors (reference: `constantly r`).
        self._meta_errors: list | None = None
        if meta_validate and isinstance(schema, (dict, bool)):
            self._meta_errors = self._validate_m2(schema) or None
        if format_assertion is None:
            # reference default: assertion in old drafts, annotation 2019+
            # (vocabulary.cljc:599-614; property.cljc:682-700)
            format_assertion = not _ge(self.draft, D2019)
        self.format_assertion = format_assertion
        self.index = _Index(self.draft, self.registry, self.uri_dirs)
        self._memo: dict[int, tuple] = {}
        self.root_uri = self.index.index_root(schema, base_uri)
        if self._meta_errors:
            # invalid schema: never compiled, every validation reports
            # the meta-errors (reference: validate.cljc:375-377)
            c = Compiled(self.root_uri)
            c.fn = lambda v, p, rt, _e=self._meta_errors: (list(_e), None)
            self.root = c
        else:
            self.root = self._compile(schema, self.draft, "")

    # -- meta-schema validation (validate-m2) -------------------------------

    def _meta_vocabulary(self, schema: dict):
        """$vocabulary of the schema's meta-schema, when one is declared
        (vendored drafts use the default dialect — equivalent to their
        full standard vocabulary set)."""
        s_uri = schema.get("$schema")
        if not isinstance(s_uri, str):
            return None
        if s_uri.rstrip("#") in _SCHEMA_URI_TO_DRAFT:
            return None  # standard draft: default dialect
        meta = self.registry.get(s_uri) or self.registry.get(
            s_uri.rstrip("#"))
        if isinstance(meta, dict):
            vocab = meta.get("$vocabulary")
            if isinstance(vocab, dict):
                return vocab
        return None

    def _validate_m2(self, schema):
        """Validate the schema against its meta-schema
        (validate.cljc:354-403).  Returns wrapped meta-errors (empty if
        valid, or if no meta-schema is available — reference fallback:
        compile anyway)."""
        return meta_validate_schema(schema, self.draft, self.registry)

    # -- public API --------------------------------------------------------

    def validate(self, value: Any) -> ValidationResult:
        import sys

        if self._meta_errors:
            # invalid schema: every document reports the meta-errors
            # (reference: `(constantly r)` — validate.cljc:375-377)
            return ValidationResult(False, list(self._meta_errors), [], [])

        rt = _Rt(self.root_uri)
        # ~10 interpreter frames per application; size the Python limit
        # to MAX_DEPTH so the explicit guard (clean error) fires first.
        # The limit is restored afterwards so the bump never leaks into
        # the host process (Arrow workers keep their own default between
        # batches), and it is capped so a pathological document cannot
        # push the C stack past its guard page before RecursionError.
        prev_limit = sys.getrecursionlimit()
        needed = min(_Rt.MAX_DEPTH * 12, 30_000)
        try:
            if prev_limit < needed:
                sys.setrecursionlimit(needed)
            try:
                errs, _ = self.root(value, "", rt)
            except (_DepthExceeded, RecursionError):
                # degenerate $ref cycle with no structural descent (e.g.
                # {"$ref": "#"}): fail the document rather than the process
                errs = [Violation("$ref", "", "",
                                  "$ref cycle exceeded recursion limit")]
        finally:
            if sys.getrecursionlimit() != prev_limit:
                sys.setrecursionlimit(prev_limit)
        errors = [e for e in errs if e.level == "error"]
        warnings = [e for e in errs if e.level == "warning"]
        infos = [e for e in errs if e.level == "info"]
        return ValidationResult(not errors, errors, warnings, infos)

    def is_valid(self, value: Any) -> bool:
        return self.validate(value).valid

    # -- compilation -------------------------------------------------------

    def _compile(self, node: Any, draft: str, sp: str) -> Compiled:
        key = id(node)
        hit = self._memo.get(key)
        if hit is not None and hit[0] is node:
            return hit[1]
        base = self.index.node_base.get(id(node), self.root_uri) \
            if isinstance(node, dict) else self.root_uri
        c = Compiled(base)
        self._memo[key] = (node, c)
        if node is True or node == {}:
            c.fn = lambda v, p, rt: ([], None)
            return c
        if node is False:
            # boolean false schema (validate.cljc:163-171)
            c.fn = lambda v, p, rt, _sp=sp: (
                [Violation("false", _sp, p, "schema is false: nothing is valid")],
                None)
            return c
        if not isinstance(node, dict):
            # malformed subschema (e.g. a string where a schema object is
            # expected): warn and treat as always-true instead of
            # crashing — the reference's corpus-stress regression
            # (json_schema_test.cljc:118-130 "must not crash")
            c.fn = lambda v, p, rt, _sp=sp, _n=node: (
                [Violation("$schema", _sp, p,
                           f"ignoring malformed subschema {_n!r} "
                           f"(expected object or boolean)", "warning")],
                None)
            return c
        draft = draft_of(node, draft)
        checkers = self._compile_object(node, draft, sp, base)

        def run(value, path, rt, _checkers=checkers):
            errs: list = []
            ann: Ann = None
            for chk in _checkers:
                e, a = chk(value, path, rt, ann)
                if e:
                    errs.extend(e)
                ann = _merge(ann, a)
            if errs:
                # stamp the offending instance value onto violations
                # raised AT this node (deeper ones were stamped in their
                # own run; error-only cost, nothing on the valid path).
                # Lazily: ancestors of the offending node re-enter this
                # branch with nothing left to stamp, and formatting the
                # WHOLE enclosing document (json.dumps) there doubled
                # the error path (BENCH r2->r3 A/B).  Direct
                # construction, not dataclasses.replace, which
                # re-introspects fields per call.
                if any(e.value is None and e.doc_path == path
                       for e in errs):
                    fv = _fmt_value(value)
                    errs = [Violation(e.keyword, e.schema_path,
                                      e.doc_path, e.message, e.level, fv)
                            if e.value is None and e.doc_path == path
                            else e
                            for e in errs]
            return errs, ann

        c.fn = run
        return c

    def _compile_object(self, node: dict, draft: str, sp: str, base: str):
        """Compile one schema object into an ordered checker list.

        Keyword ordering is dependency-driven like the reference's
        topo-sorted vocabularies (vocabulary.cljc:190-192): in-place
        applicators and $ref run before unevaluated*; properties /
        patternProperties before additionalProperties; contains before
        min/maxContains; if before then/else."""
        kw = _KEYWORDS[draft]
        old_ref = not _ge(draft, D2019)
        if old_ref and isinstance(node.get("$ref"), str):
            # draft<=7: $ref replaces all siblings (vocabulary.cljc:154,158)
            chk = self._c_ref(node["$ref"], base, draft, sp)
            return [chk]
        checkers = []
        allowed = self._allowed_keywords
        for name in _KEYWORD_ORDER:
            if name not in node:
                continue
            if allowed is not None and name not in allowed:
                continue  # keyword outside the active $vocabulary dialect
            fn = kw.get(name)
            if fn is None:
                continue
            chk = fn(self, node, node[name], draft, join_pointer(sp, name), base)
            if chk is not None:
                checkers.append(chk)
        return checkers

    # -- $ref family -------------------------------------------------------

    def _c_ref(self, ref: str, base: str, draft: str, sp: str):
        compiled = self.compile_ref_target(ref, base, draft, sp)

        def chk(v, p, rt, ann):
            e, a = compiled(v, p, rt)
            return e, (a if not e else a)
        return chk

    def compile_ref_target(self, ref: str, base: str, draft: str, sp: str):
        return self._compile(self.index.resolve(ref, base)[0], draft, sp)


# --------------------------------------------------------------------------
# keyword compilers
#
# Each has signature  c(cs, node, v, draft, sp, base) -> checker | None
# where checker(value, path, rt, ann_so_far) -> (errors, ann_delta).
# ``ann_so_far`` lets unevaluated* see siblings' evaluated sets, mirroring
# how the reference threads :matched/:evaluated through c1
# (property.cljc:992-1011, 1004-1009).


def _err(kw, sp, p, msg, level="error"):
    return [Violation(kw, sp, p, msg, level)]


def _no_ann(fn):
    def chk(v, p, rt, ann):
        return fn(v, p, rt), None
    return chk


# ---- core / refs ----


def c_ref(cs, node, v, draft, sp, base):
    if not isinstance(v, str):
        return None
    return cs._c_ref(v, base, draft, sp)


def c_dynamic_ref(cs, node, v, draft, sp, base):
    """$dynamicRef: the target is chosen per validation from the dynamic
    scope (``_Index.dynamic_ref`` / ``dynamic_target``)."""
    if not isinstance(v, str):
        return None
    dyn = cs.index.dynamic_ref(v, base, draft)
    if dyn is None:
        return cs._c_ref(v, base, draft, sp)
    name, static = dyn
    if static is not None:
        # compiled now, so its errors surface at compile time
        cs._compile(static[0], draft, sp)

    def chk(v_, p, rt, ann):
        target = cs.index.dynamic_target(name, rt.scope, static)
        if target is None:
            return _err("$dynamicRef", sp, p,
                        f"$dynamicRef: no anchor {name!r} in dynamic scope"), None
        return cs._compile(target[0], draft, sp)(v_, p, rt)
    return chk


def c_recursive_ref(cs, node, v, draft, sp, base):
    """$recursiveRef '#': the target is chosen per validation from the
    dynamic scope (``_Index.recursive_target``)."""
    if v != "#":
        return cs._c_ref(v, base, draft, sp) if isinstance(v, str) else None
    # the static target compiles now, so its errors surface at compile time
    cs._compile(cs.index.recursive_target(base, ())[0], draft, sp)

    def chk(v_, p, rt, ann):
        target, _ = cs.index.recursive_target(base, rt.scope)
        return cs._compile(target, draft, sp)(v_, p, rt)
    return chk


# ---- type / enum / const ----


def c_type(cs, node, v, draft, sp, base):
    strict = draft in (DRAFT3, DRAFT4)
    if isinstance(v, str):
        @_no_ann
        def chk(val, p, rt):
            if not type_check(val, v, strict):
                return _err("type", sp, p,
                            f"expected type {v}, got {json_type(val)}")
            return []
        return chk
    if isinstance(v, list):
        names = [t for t in v if isinstance(t, str)]
        schemas = [cs._compile(t, draft, join_pointer(sp, i))
                   for i, t in enumerate(v) if isinstance(t, dict)]

        def chk(val, p, rt, ann):
            if any(type_check(val, n, strict) for n in names):
                return [], None
            for s in schemas:  # draft-03 union with embedded schemas
                e, _ = s(val, p, rt)
                if not e:
                    return [], None
            return _err("type", sp, p,
                        f"expected one of {names}, got {json_type(val)}"), None
        return chk
    if isinstance(v, dict):  # draft-03: schema as type
        compiled = cs._compile(v, draft, sp)

        def chk(val, p, rt, ann):
            e, _ = compiled(val, p, rt)
            if e:
                return _err("type", sp, p, "value does not match type schema"), None
            return [], None
        return chk
    return None


def c_disallow(cs, node, v, draft, sp, base):
    """draft-03 negated type (property.cljc:54-63)."""
    pos = c_type(cs, node, v, draft, sp, base)
    if pos is None:
        return None

    def chk(val, p, rt, ann):
        e, _ = pos(val, p, rt, None)
        if not e:
            return _err("disallow", sp, p, f"disallowed type matched: {v}"), None
        return [], None
    return chk


def c_enum(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    vals = list(v)

    @_no_ann
    def chk(val, p, rt):
        if any(json_eq(val, x) for x in vals):
            return []
        return _err("enum", sp, p, f"value not in enum ({len(vals)} options)")
    return chk


def c_const(cs, node, v, draft, sp, base):
    @_no_ann
    def chk(val, p, rt):
        if json_eq(val, v):
            return []
        return _err("const", sp, p, "value does not equal const")
    return chk


# ---- numbers ----


def _num_chk(kw, sp, pred, msg_fmt, bound):
    @_no_ann
    def chk(val, p, rt):
        if not is_number(val):
            return []
        if pred(val):
            return []
        return _err(kw, sp, p, msg_fmt.format(val=val, bound=bound))
    return chk


def c_minimum(cs, node, v, draft, sp, base):
    if not is_number(v):
        return None
    if draft in (DRAFT3, DRAFT4) and node.get("exclusiveMinimum") is True:
        # old drafts: sibling boolean makes the bound strict
        # (compile-time branch, reference property.cljc:530-541)
        return _num_chk("minimum", sp, lambda x: x > v,
                        "{val} is not > {bound}", v)
    return _num_chk("minimum", sp, lambda x: x >= v, "{val} is not >= {bound}", v)


def c_maximum(cs, node, v, draft, sp, base):
    if not is_number(v):
        return None
    if draft in (DRAFT3, DRAFT4) and node.get("exclusiveMaximum") is True:
        return _num_chk("maximum", sp, lambda x: x < v,
                        "{val} is not < {bound}", v)
    return _num_chk("maximum", sp, lambda x: x <= v, "{val} is not <= {bound}", v)


def c_exclusive_minimum(cs, node, v, draft, sp, base):
    if draft in (DRAFT3, DRAFT4) or not is_number(v):
        return None  # old drafts: boolean modifier handled by c_minimum
    return _num_chk("exclusiveMinimum", sp, lambda x: x > v,
                    "{val} is not > {bound}", v)


def c_exclusive_maximum(cs, node, v, draft, sp, base):
    if draft in (DRAFT3, DRAFT4) or not is_number(v):
        return None
    return _num_chk("exclusiveMaximum", sp, lambda x: x < v,
                    "{val} is not < {bound}", v)


def c_multiple_of(cs, node, v, draft, sp, base):
    if not is_number(v):
        return None
    kw = "divisibleBy" if draft == DRAFT3 else "multipleOf"
    return _num_chk(kw, sp, lambda x: is_multiple_of(x, v),
                    "{val} is not a multiple of {bound}", v)


# ---- strings ----


def c_min_length(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off
    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, str) and json_length(val) < v:
            return _err("minLength", sp, p, f"string shorter than {v}")
        return []
    return chk


def c_max_length(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off
    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, str) and json_length(val) > v:
            return _err("maxLength", sp, p, f"string longer than {v}")
        return []
    return chk


def compile_ecma_pattern(pattern: str) -> re.Pattern:
    """Compile an ECMA-262-flavored pattern with exact ECMA semantics
    where expressible (the reference uses a real ECMA engine —
    ecma.cljc:27-38).  Translation + classification live in
    :mod:`m3spark.schema.ecma`."""
    from m3spark.schema.ecma import compile_ecma
    return compile_ecma(pattern)


def _pattern_matcher(cs, v: str):
    """A (str) -> bool matcher for a pattern string, honoring the
    reference's ``$format:`` extension (property.cljc:705-710): a
    pattern of the form ``$format:NAME`` delegates to the format
    checker instead of ECMA regex.  Returns None when the pattern is
    unusable (ECMA-invalid / unknown format)."""
    if v.startswith("$format:"):
        fmt = cs.formats.get(v[len("$format:"):])
        if fmt is None:
            return None
        return lambda s: bool(fmt(s))
    try:
        rx = compile_ecma_pattern(v)
    except re.error:
        return None
    return lambda s: rx.search(s) is not None


def c_pattern(cs, node, v, draft, sp, base):
    if not isinstance(v, str):
        return None
    match = _pattern_matcher(cs, v)
    if match is None:
        return None

    @_no_ann
    def chk(val, p, rt):
        # ECMA 'test' semantics: unanchored find (property.cljc:702-720)
        if isinstance(val, str) and not match(val):
            return _err("pattern", sp, p, f"string does not match {v!r}")
        return []
    return chk


def c_format(cs, node, v, draft, sp, base):
    """Assertion vs annotation mode per draft (property.cljc:682-700);
    unknown formats warn, never error (property.cljc:696-697)."""
    if not isinstance(v, str):
        return None
    fn = cs.formats.get(v)
    level = "error" if cs.format_assertion else "warning"
    if fn is None:
        @_no_ann
        def chk_unknown(val, p, rt):
            if isinstance(val, str):
                return _err("format", sp, p, f"unknown format {v!r}", "warning")
            return []
        return chk_unknown

    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, str) and not fn(val):
            return _err("format", sp, p, f"not a valid {v}", level)
        return []
    return chk


# ---- objects ----


def c_properties(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None
    subs = {}
    required3 = []
    for k, s in v.items():
        if draft == DRAFT3 and isinstance(s, dict) and s.get("required") is True:
            required3.append(k)
        subs[k] = cs._compile(s, draft, join_pointer(sp, k))

    def chk(val, p, rt, ann):
        if not isinstance(val, dict):
            return [], None
        errs = []
        props = set()
        for k, sub in subs.items():
            if k in val:
                props.add(k)
                e, a = sub(val[k], join_pointer(p, k), rt)
                errs.extend(e)
                if a:
                    pass  # child annotations are per-child-instance; not lifted
        for k in required3:
            if k not in val:
                errs.extend(_err("required", join_pointer(sp, k), p,
                                 f"required property {k!r} missing"))
        return errs, (props, set())
    return chk


def c_pattern_properties(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None
    pairs = []
    for pat, s in v.items():
        match = _pattern_matcher(cs, pat)  # honors $format: keys
        if match is None:
            continue
        pairs.append((match, cs._compile(s, draft, join_pointer(sp, pat))))

    def chk(val, p, rt, ann):
        if not isinstance(val, dict):
            return [], None
        errs = []
        props = set()
        for k, item in val.items():
            for match, sub in pairs:
                if match(k):
                    props.add(k)
                    e, _ = sub(item, join_pointer(p, k), rt)
                    errs.extend(e)
        return errs, (props, set())
    return chk


def c_additional_properties(cs, node, v, draft, sp, base):
    """Members not matched by properties/patternProperties
    (property.cljc:1068-1081).  Match sets are computed statically from
    siblings at compile time."""
    named = set(node.get("properties", {}) or {})
    pats = []
    pp = node.get("patternProperties")
    if isinstance(pp, dict):
        for pat in pp:
            match = _pattern_matcher(cs, pat)  # honors $format: keys
            if match is not None:
                pats.append(match)
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt, ann):
        if not isinstance(val, dict):
            return [], None
        errs = []
        props = set()
        for k, item in val.items():
            if k in named or any(match(k) for match in pats):
                continue
            props.add(k)
            e, _ = sub(item, join_pointer(p, k), rt)
            errs.extend(e)
        return errs, (props, set())
    return chk


def c_unevaluated_properties(cs, node, v, draft, sp, base):
    """Runs LAST; sees the union of evaluated keys from succeeding sibling
    applicators via ``ann`` (reference threads this through c1:
    property.cljc:1083-1095)."""
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt, ann):
        if not isinstance(val, dict):
            return [], None
        seen = ann[0] if ann else set()
        errs = []
        props = set()
        for k, item in val.items():
            if k in seen:
                continue
            props.add(k)
            e, _ = sub(item, join_pointer(p, k), rt)
            errs.extend(e)
        return errs, (props, set())
    return chk


def c_property_names(cs, node, v, draft, sp, base):
    sub = cs._compile(v, draft, sp)

    @_no_ann
    def chk(val, p, rt):
        if not isinstance(val, dict):
            return []
        errs = []
        for k in val:
            e, _ = sub(k, join_pointer(p, k), rt)
            if e:
                errs.extend(_err("propertyNames", sp, p,
                                 f"property name {k!r} is invalid"))
        return errs
    return chk


def c_required(cs, node, v, draft, sp, base):
    if draft == DRAFT3 or not isinstance(v, list):
        return None  # draft-03 required lives inside property schemas

    @_no_ann
    def chk(val, p, rt):
        if not isinstance(val, dict):
            return []
        missing = [k for k in v if k not in val]
        return [Violation("required", sp, p, f"required property {k!r} missing")
                for k in missing]
    return chk


def c_min_properties(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off
    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, dict) and len(val) < v:
            return _err("minProperties", sp, p, f"fewer than {v} properties")
        return []
    return chk


def c_max_properties(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off
    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, dict) and len(val) > v:
            return _err("maxProperties", sp, p, f"more than {v} properties")
        return []
    return chk


def c_dependencies(cs, node, v, draft, sp, base):
    """draft≤7 combined form (property.cljc:812-846): per-key value is a
    string (draft3), array of strings, or a schema."""
    if not isinstance(v, dict):
        return None
    present_deps = {}
    schema_deps = {}
    for k, d in v.items():
        if isinstance(d, str):
            present_deps[k] = [d]
        elif isinstance(d, list):
            present_deps[k] = [x for x in d if isinstance(x, str)]
        elif isinstance(d, (dict, bool)):
            schema_deps[k] = cs._compile(d, draft, join_pointer(sp, k))

    def chk(val, p, rt, ann):
        if not isinstance(val, dict):
            return [], None
        errs = []
        out_ann: Ann = None
        for k, needs in present_deps.items():
            if k in val:
                for n in needs:
                    if n not in val:
                        errs.extend(_err("dependencies", join_pointer(sp, k), p,
                                         f"property {k!r} requires {n!r}"))
        for k, sub in schema_deps.items():
            if k in val:
                e, a = sub(val, p, rt)
                errs.extend(e)
                if not e:
                    out_ann = _merge(out_ann, a)
        return errs, out_ann
    return chk


def c_dependent_required(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None

    @_no_ann
    def chk(val, p, rt):
        if not isinstance(val, dict):
            return []
        errs = []
        for k, needs in v.items():
            if k in val and isinstance(needs, list):
                for n in needs:
                    if n not in val:
                        errs.extend(_err("dependentRequired",
                                         join_pointer(sp, k), p,
                                         f"property {k!r} requires {n!r}"))
        return errs
    return chk


def c_dependent_schemas(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None
    subs = {k: cs._compile(s, draft, join_pointer(sp, k)) for k, s in v.items()}

    def chk(val, p, rt, ann):
        if not isinstance(val, dict):
            return [], None
        errs = []
        out_ann: Ann = None
        for k, sub in subs.items():
            if k in val:
                e, a = sub(val, p, rt)
                errs.extend(e)
                if not e:
                    out_ann = _merge(out_ann, a)
        return errs, out_ann
    return chk


def c_property_dependencies(cs, node, v, draft, sp, base):
    """draft-next: schema keyed by (property, string-value)
    (property.cljc:875-911)."""
    if not isinstance(v, dict):
        return None
    table = {}
    for prop, m in v.items():
        if isinstance(m, dict):
            table[prop] = {sval: cs._compile(s, draft,
                                             join_pointer(sp, prop, sval))
                           for sval, s in m.items()}

    def chk(val, p, rt, ann):
        if not isinstance(val, dict):
            return [], None
        errs = []
        out_ann: Ann = None
        for prop, m in table.items():
            pv = val.get(prop)
            if isinstance(pv, str) and pv in m:
                e, a = m[pv](val, p, rt)
                errs.extend(e)
                if not e:
                    out_ann = _merge(out_ann, a)
        return errs, out_ann
    return chk


# ---- arrays ----


def c_prefix_items(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    subs = [cs._compile(s, draft, join_pointer(sp, i)) for i, s in enumerate(v)]

    def chk(val, p, rt, ann):
        if not isinstance(val, list):
            return [], None
        errs = []
        idxs = set()
        for i, sub in enumerate(subs):
            if i >= len(val):
                break
            idxs.add(i)
            e, _ = sub(val[i], join_pointer(p, i), rt)
            errs.extend(e)
        return errs, (set(), idxs)
    return chk


def c_items(cs, node, v, draft, sp, base):
    """Schema form: every element past the positional prefix; tuple form
    (draft≤2019): positional (property.cljc:1156-1208)."""
    if isinstance(v, list):  # tuple form
        subs = [cs._compile(s, draft, join_pointer(sp, i))
                for i, s in enumerate(v)]

        def chk_t(val, p, rt, ann):
            if not isinstance(val, list):
                return [], None
            errs = []
            idxs = set()
            for i, sub in enumerate(subs):
                if i >= len(val):
                    break
                idxs.add(i)
                e, _ = sub(val[i], join_pointer(p, i), rt)
                errs.extend(e)
            return errs, (set(), idxs)
        return chk_t
    offset = 0
    if draft in (D2020, DNEXT):
        pi = node.get("prefixItems")
        if isinstance(pi, list):
            offset = len(pi)
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt, ann):
        if not isinstance(val, list):
            return [], None
        errs = []
        idxs = set()
        for i in range(offset, len(val)):
            idxs.add(i)
            e, _ = sub(val[i], join_pointer(p, i), rt)
            errs.extend(e)
        return errs, (set(), idxs)
    return chk


def c_additional_items(cs, node, v, draft, sp, base):
    """Only active when sibling items is tuple-form (property.cljc:1210-1228)."""
    items = node.get("items")
    if not isinstance(items, list):
        return None
    n = len(items)
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt, ann):
        if not isinstance(val, list):
            return [], None
        errs = []
        idxs = set()
        for i in range(n, len(val)):
            idxs.add(i)
            e, _ = sub(val[i], join_pointer(p, i), rt)
            errs.extend(e)
        return errs, (set(), idxs)
    return chk


def c_unevaluated_items(cs, node, v, draft, sp, base):
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt, ann):
        if not isinstance(val, list):
            return [], None
        seen = ann[1] if ann else set()
        errs = []
        idxs = set()
        for i in range(len(val)):
            if i in seen:
                continue
            idxs.add(i)
            e, _ = sub(val[i], join_pointer(p, i), rt)
            errs.extend(e)
        return errs, (set(), idxs)
    return chk


def c_contains(cs, node, v, draft, sp, base):
    """≥1 element conforms; bounds via min/maxContains
    (property.cljc:1245-1291).  In 2020-12 matched indices count as
    evaluated for unevaluatedItems; in 2019-09 they do not."""
    sub = cs._compile(v, draft, sp)
    min_c = node.get("minContains", 1)
    max_c = node.get("maxContains")
    count_evaluated = draft in (D2020, DNEXT)

    def chk(val, p, rt, ann):
        if not isinstance(val, list):
            return [], None
        matched = set()
        for i, item in enumerate(val):
            e, _ = sub(item, join_pointer(p, i), rt)
            if not e:
                matched.add(i)
        errs = []
        if len(matched) < (min_c if isinstance(min_c, (int, float)) else 1):
            kw = "contains" if min_c == 1 else "minContains"
            errs.extend(_err(kw, sp, p,
                             f"fewer than {min_c} elements match contains"))
        if isinstance(max_c, (int, float)) and len(matched) > max_c:
            errs.extend(_err("maxContains", sp, p,
                             f"more than {max_c} elements match contains"))
        return errs, ((set(), matched) if count_evaluated else None)
    return chk


def c_min_items(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off
    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, list) and len(val) < v:
            return _err("minItems", sp, p, f"fewer than {v} items")
        return []
    return chk


def c_max_items(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off
    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, list) and len(val) > v:
            return _err("maxItems", sp, p, f"more than {v} items")
        return []
    return chk


def c_unique_items(cs, node, v, draft, sp, base):
    if v is not True:
        return None

    @_no_ann
    def chk(val, p, rt):
        if isinstance(val, list) and not unique_items(val):
            return _err("uniqueItems", sp, p, "array items are not unique")
        return []
    return chk


# ---- combinators (check-of analog: property.cljc:1334-1349) ----


def c_all_of(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    subs = [cs._compile(s, draft, join_pointer(sp, i)) for i, s in enumerate(v)]

    def chk(val, p, rt, ann):
        errs = []
        out_ann: Ann = None
        for sub in subs:
            e, a = sub(val, p, rt)
            errs.extend(e)
            if not e:
                out_ann = _merge(out_ann, a)
        return errs, out_ann
    return chk


def c_any_of(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    subs = [cs._compile(s, draft, join_pointer(sp, i)) for i, s in enumerate(v)]

    def chk(val, p, rt, ann):
        out_ann: Ann = None
        ok = False
        for sub in subs:
            e, a = sub(val, p, rt)
            if not e:
                ok = True
                out_ann = _merge(out_ann, a)
        if ok:
            return [], out_ann
        return _err("anyOf", sp, p, f"no schema of {len(subs)} matched"), None
    return chk


def c_one_of(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    subs = [cs._compile(s, draft, join_pointer(sp, i)) for i, s in enumerate(v)]

    def chk(val, p, rt, ann):
        out_ann: Ann = None
        n_ok = 0
        for sub in subs:
            e, a = sub(val, p, rt)
            if not e:
                n_ok += 1
                out_ann = _merge(out_ann, a)
        if n_ok == 1:
            return [], out_ann
        return _err("oneOf", sp, p,
                    f"expected exactly 1 of {len(subs)} schemas, got {n_ok}"), None
    return chk


def c_not(cs, node, v, draft, sp, base):
    sub = cs._compile(v, draft, sp)

    @_no_ann
    def chk(val, p, rt):
        e, _ = sub(val, p, rt)
        if not e:
            return _err("not", sp, p, "value matches 'not' schema")
        return []
    return chk


def c_extends(cs, node, v, draft, sp, base):
    """draft-03 allOf precursor (property.cljc:1393-1406)."""
    schemas = v if isinstance(v, list) else [v]
    subs = [cs._compile(s, draft, join_pointer(sp, i))
            for i, s in enumerate(schemas) if isinstance(s, (dict, bool))]

    def chk(val, p, rt, ann):
        errs = []
        for sub in subs:
            e, _ = sub(val, p, rt)
            errs.extend(e)
        return errs, None
    return chk


def c_if(cs, node, v, draft, sp, base):
    """Pure-expression conditional (property.cljc:944-978)."""
    if_s = cs._compile(v, draft, sp)
    then_v = node.get("then")
    else_v = node.get("else")
    then_s = cs._compile(then_v, draft, sp + "/../then") if isinstance(
        then_v, (dict, bool)) else None
    else_s = cs._compile(else_v, draft, sp + "/../else") if isinstance(
        else_v, (dict, bool)) else None

    def chk(val, p, rt, ann):
        e, a = if_s(val, p, rt)
        if not e:
            out = _merge(None, a)
            if then_s is not None:
                e2, a2 = then_s(val, p, rt)
                if e2:
                    return e2, out
                return [], _merge(out, a2)
            return [], out
        if else_s is not None:
            e2, a2 = else_s(val, p, rt)
            if e2:
                return e2, None
            return [], _merge(None, a2)
        return [], None
    return chk


# ---- content (decode-then-validate: property.cljc:743-810) ----


def c_content(cs, node, v, draft, sp, base):
    """Driven off contentEncoding; handles MediaType + Schema too.
    draft-07 = strict errors; 2019+ = warnings (reference semantics)."""
    enc = node.get("contentEncoding")
    mt = node.get("contentMediaType")
    csch = node.get("contentSchema")
    level = "error" if draft == DRAFT7 else "warning"
    sub = cs._compile(csch, draft, join_pointer(sp, "contentSchema")) \
        if isinstance(csch, (dict, bool)) and _ge(draft, D2019) else None

    @_no_ann
    def chk(val, p, rt):
        if not isinstance(val, str):
            return []
        decoded = val
        if enc == "base64":
            try:
                decoded = base64.b64decode(val, validate=True).decode("utf-8")
            except (binascii.Error, UnicodeDecodeError, ValueError):
                return _err("contentEncoding", sp, p,
                            "not valid base64", level)
        # No contentMediaType + a contentSchema => assume JSON content,
        # matching the reference (property.cljc:796-801); a decode
        # failure there is a contentSchema validation failure.
        if mt == "application/json" or (mt is None and sub is not None):
            try:
                # strict: Python's default parse accepts NaN/Infinity,
                # which neither RFC 8259, the reference's JSON parser,
                # nor the columnar try_parse_json lowering do
                parsed = json.loads(
                    decoded,
                    parse_constant=lambda c: (_ for _ in ()).throw(
                        ValueError(f"non-JSON constant {c}")))
            except ValueError:
                if mt is None:
                    return _err("contentSchema", sp, p,
                                "content is not valid JSON", "warning")
                return _err("contentMediaType", sp, p,
                            "content is not valid JSON", level)
            if sub is not None:
                e, _ = sub(parsed, p, rt)
                if e:
                    return [Violation(x.keyword, x.schema_path, x.doc_path,
                                      x.message, "warning") for x in e]
        return []
    return chk


def c_content_media_type(cs, node, v, draft, sp, base):
    """contentMediaType WITHOUT contentEncoding still decodes-and-checks
    (the raw string is the content) — reference property.cljc:743-810
    keys off either keyword."""
    if "contentEncoding" in node:
        return None  # c_content (keyed on contentEncoding) covers both
    return c_content(cs, node, v, draft, sp, base)


def c_content_schema(cs, node, v, draft, sp, base):
    """contentSchema ALONE (no contentEncoding/contentMediaType) still
    validates, assuming JSON content — reference
    property.cljc:788-801 (make-check-property-contentSchema decodes
    m1 as JSON when cmt is nil)."""
    if "contentEncoding" in node or "contentMediaType" in node:
        return None  # covered by the handlers keyed on those
    return c_content(cs, node, v, draft, sp, base)


# ---- annotations-only keywords ----


def c_deprecated(cs, node, v, draft, sp, base):
    if v is not True:
        return None

    @_no_ann
    def chk(val, p, rt):
        return _err("deprecated", sp, p, "deprecated", "warning")
    return chk


def c_comment(cs, node, v, draft, sp, base):
    @_no_ann
    def chk(val, p, rt):
        return _err("$comment", sp, p, str(v), "info")
    return chk


# --------------------------------------------------------------------------
# vocabularies (per-draft keyword tables — vocabulary.cljc:193-565 analog)


_COMMON = {
    "type": c_type,
    "enum": c_enum,
    "minimum": c_minimum,
    "maximum": c_maximum,
    "exclusiveMinimum": c_exclusive_minimum,
    "exclusiveMaximum": c_exclusive_maximum,
    "minLength": c_min_length,
    "maxLength": c_max_length,
    "pattern": c_pattern,
    "format": c_format,
    "properties": c_properties,
    "patternProperties": c_pattern_properties,
    "additionalProperties": c_additional_properties,
    "items": c_items,
    "additionalItems": c_additional_items,
    "minItems": c_min_items,
    "maxItems": c_max_items,
    "uniqueItems": c_unique_items,
    "dependencies": c_dependencies,
    "$ref": c_ref,
}

_D4 = dict(_COMMON, **{
    "required": c_required,
    "multipleOf": c_multiple_of,
    "minProperties": c_min_properties,
    "maxProperties": c_max_properties,
    "allOf": c_all_of,
    "anyOf": c_any_of,
    "oneOf": c_one_of,
    "not": c_not,
})

_D6 = dict(_D4, **{
    "const": c_const,
    "contains": c_contains,
    "propertyNames": c_property_names,
})

_D7 = dict(_D6, **{
    "if": c_if,
    "contentEncoding": c_content,
    "contentMediaType": c_content_media_type,
})

_D2019K = dict(_D7, **{
    "contentSchema": c_content_schema,
    "dependentRequired": c_dependent_required,
    "dependentSchemas": c_dependent_schemas,
    "unevaluatedProperties": c_unevaluated_properties,
    "unevaluatedItems": c_unevaluated_items,
    "$recursiveRef": c_recursive_ref,
    "deprecated": c_deprecated,
    "$comment": c_comment,
})
_D2019K.pop("dependencies", None)

_D2020K = dict(_D2019K, **{
    "prefixItems": c_prefix_items,
    "$dynamicRef": c_dynamic_ref,
})
_D2020K.pop("$recursiveRef", None)
_D2020K.pop("additionalItems", None)

_DNEXTK = dict(_D2020K, **{
    "propertyDependencies": c_property_dependencies,
})

_KEYWORDS: dict[str, dict] = {
    DRAFT3: dict(_COMMON, **{
        "disallow": c_disallow,
        "extends": c_extends,
        "divisibleBy": c_multiple_of,
    }),
    DRAFT4: _D4,
    DRAFT6: _D6,
    DRAFT7: _D7,
    D2019: _D2019K,
    D2020: _D2020K,
    DNEXT: _DNEXTK,
}
_KEYWORDS[DRAFT3].pop("multipleOf", None)

# Evaluation order within a schema object: refs and in-place applicators
# before unevaluated*; properties before additionalProperties; if before
# then/else (handled inside c_if); contains carries min/maxContains.
_KEYWORD_ORDER = [
    "$recursiveRef", "$dynamicRef", "$ref",
    "type", "disallow", "enum", "const",
    "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
    "multipleOf", "divisibleBy",
    "minLength", "maxLength", "pattern", "format",
    "required", "minProperties", "maxProperties",
    "dependencies", "dependentRequired", "dependentSchemas",
    "propertyDependencies",
    "allOf", "anyOf", "oneOf", "not", "extends", "if",
    "prefixItems", "items", "additionalItems", "contains",
    "minItems", "maxItems", "uniqueItems",
    "properties", "patternProperties", "additionalProperties",
    "propertyNames",
    "contentEncoding", "contentMediaType", "contentSchema",
    "deprecated", "$comment",
    "unevaluatedItems", "unevaluatedProperties",
]


def compile_schema(schema: Any, draft: str | None = None,
                   registry: dict | None = None,
                   format_assertion: bool | None = None,
                   formats: dict | None = None,
                   meta_validate: bool = True,
                   uri_dirs: dict | None = None) -> CompiledSchema:
    """Public compile entry point (reference analog: ``validator`` —
    json_schema.cljc:165-189).  A ``str`` schema is decoded as JSON
    first (m3 accepts JSON-string schemas: json_schema.cljc:131-140).
    ``meta_validate`` mirrors the reference's validate-m2 default: the
    schema is validated against its draft meta-schema, and an invalid
    schema yields a validator that reports the meta-errors for every
    document."""
    if isinstance(schema, str):
        import json as _json
        schema = _json.loads(schema)
    return CompiledSchema(schema, draft=draft, registry=registry,
                          format_assertion=format_assertion, formats=formats,
                          meta_validate=meta_validate, uri_dirs=uri_dirs)


def validate(schema: Any, value: Any, **opts) -> ValidationResult:
    """One-shot convenience (reference analog: json_schema.cljc:122-163).
    Compilation is memoized by the caller if reuse is needed."""
    return compile_schema(schema, **opts).validate(value)

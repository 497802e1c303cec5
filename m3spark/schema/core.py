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
    is_integer_strict,
    is_multiple_of,
    is_number,
    json_eq,
    json_length,
    json_type,
    type_check,
    unique_items,
)
from .formats import FORMATS
from .uris import (join_pointer, pointer_escape, pointer_get, resolve_uri,
                   split_fragment)

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


# Annotation state: (evaluated property names, evaluated item indices).
# Built only where an unevaluated* keyword can see it (see ``_node``).
Ann = Optional[tuple]


def _annotate(acc: tuple, a: Ann) -> None:
    """Fold a child's annotation sets into the accumulator ``acc``."""
    if a is not None:
        acc[0].update(a[0])
        acc[1].update(a[1])


def _ptr(path) -> str:
    """JSON pointer of a document path.  The root is ``""``; a child is
    ``(parent path, key)``, joined only here, when a violation is made."""
    keys = []
    while path:
        path, key = path
        keys.append(key)
    return "".join(["/" + pointer_escape(str(k)) for k in reversed(keys)])


# --------------------------------------------------------------------------
# runtime context


class _Rt:
    """Per-validation runtime state: the dynamic scope chain of schema
    resources entered (for $dynamicRef/$recursiveRef, compare the
    reference's ``$dynamic-scope-chain``: property.cljc:211-216), an
    application-depth counter guarding degenerate $ref cycles, and
    ``quiet``, the number of enclosing branches whose violations their
    caller throws away (anyOf, oneOf, not, the if condition, contains,
    propertyNames, draft-03 type schemas and disallow): there no value
    is stamped.  An exception abandons the whole ``_Rt``, so none of
    these is restored on the way out."""

    __slots__ = ("scope", "depth", "quiet")

    MAX_DEPTH = 2500  # schema applications, ~tracks document depth

    def __init__(self, root_uri: str):
        self.scope = [root_uri]
        self.depth = 0
        self.quiet = 0


class _DepthExceeded(Exception):
    pass


class Compiled:
    """A compiled schema node.  ``fn(value, path, rt) -> errors`` and,
    for a caller that folds the node's annotations into its own,
    ``fa(value, path, rt) -> (errors, annotations)``.  Both are assigned
    after construction, so recursive $refs can close over the node
    before its body exists; callers read them at call time."""

    __slots__ = ("fn", "fa")


def _pass(value, path, rt):
    return None


def _pass_ann(value, path, rt):
    return None, None


def _stamp(errs: list, value, path) -> None:
    """Stamp the offending instance value onto the violations in
    ``errs`` raised AT this node (deeper ones were stamped in their own
    node).  Error-only cost: ancestors of the offending node find
    nothing left to stamp, and formatting the WHOLE enclosing document
    (json.dumps) there doubled the error path (BENCH r2->r3 A/B).
    Direct construction, not dataclasses.replace, which re-introspects
    fields per call."""
    here = fv = None
    for i, e in enumerate(errs):
        if e.value is None:
            if here is None:
                here = _ptr(path)
            if e.doc_path == here:
                if fv is None:  # formatted once, when first needed
                    fv = (_fmt_value(value),)
                errs[i] = Violation(e.keyword, e.schema_path, e.doc_path,
                                    e.message, e.level, fv[0])


def _node(uri: str | None, checkers: list, collect: bool):
    """``(fn, fa)`` of a schema object in resource ``uri`` (None: no
    dynamic reference reads the scope chain) with compiled ``checkers``,
    each a value checker ``chk(value, path, rt) -> errors | None`` or a
    pair ``(chk, achk)`` whose ``achk(value, path, rt, acc)`` also adds
    the keyword's annotations to ``acc``.  ``collect``: an unevaluated*
    keyword of this object reads the annotation sets, so ``fn`` builds
    them too.  Otherwise ``fn`` runs the plain checkers and touches no
    annotation, and with no pair at all ``fa`` has none to report."""
    plain = [c[0] if isinstance(c, tuple) else c for c in checkers]
    annot = [(c[1], True) if isinstance(c, tuple) else (c, False)
             for c in checkers]

    def fn(value, path, rt):
        depth = rt.depth + 1
        if depth > _Rt.MAX_DEPTH:
            raise _DepthExceeded(path)
        rt.depth = depth
        pushed = uri is not None and rt.scope[-1] != uri
        if pushed:
            rt.scope.append(uri)
        errs: list = []
        for chk in plain:
            e = chk(value, path, rt)
            if e:
                errs += e
        if pushed:
            rt.scope.pop()
        rt.depth = depth - 1
        if errs and not rt.quiet:
            _stamp(errs, value, path)
        return errs

    def fa(value, path, rt):
        depth = rt.depth + 1
        if depth > _Rt.MAX_DEPTH:
            raise _DepthExceeded(path)
        rt.depth = depth
        pushed = uri is not None and rt.scope[-1] != uri
        if pushed:
            rt.scope.append(uri)
        errs: list = []
        acc = (set(), set())
        for chk, takes_acc in annot:
            e = chk(value, path, rt, acc) if takes_acc \
                else chk(value, path, rt)
            if e:
                errs += e
        if pushed:
            rt.scope.pop()
        rt.depth = depth - 1
        if errs and not rt.quiet:
            _stamp(errs, value, path)
        return errs, acc

    if collect:
        return (lambda value, path, rt: fa(value, path, rt)[0]), fa
    if not any(isinstance(c, tuple) for c in checkers):
        return fn, (lambda value, path, rt: (fn(value, path, rt), None))
    return fn, fa


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
        # a $dynamicRef/$recursiveRef reads the dynamic scope chain
        self._dynamic = False
        self._unlinked: list = []  # compiled nodes without functions yet
        self.root_uri = self.index.index_root(schema, base_uri)
        if self._meta_errors:
            # invalid schema: never compiled, every validation reports
            # the meta-errors (reference: validate.cljc:375-377)
            c = Compiled()
            c.fn = lambda v, p, rt, _e=self._meta_errors: list(_e)
            self.root = c
        else:
            self.root = self._compile(schema, self.draft, "")
            self._link()

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
                errs = self.root.fn(value, "", rt) or []
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
        c = Compiled()
        self._memo[key] = (node, c)
        if node is True or node == {}:
            c.fn, c.fa = _pass, _pass_ann
            return c
        if node is False:
            # boolean false schema (validate.cljc:163-171)
            def false(v, p, rt, _sp=sp):
                return _err(rt, "false", _sp, p,
                            "schema is false: nothing is valid")
            c.fn = false
            c.fa = lambda v, p, rt: (false(v, p, rt), None)
            return c
        if not isinstance(node, dict):
            # malformed subschema (e.g. a string where a schema object is
            # expected): warn and treat as always-true instead of
            # crashing — the reference's corpus-stress regression
            # (json_schema_test.cljc:118-130 "must not crash")
            def malformed(v, p, rt, _sp=sp, _n=node):
                return _err(rt, "$schema", _sp, p,
                            f"ignoring malformed subschema {_n!r} "
                            f"(expected object or boolean)", "warning")
            c.fn = malformed
            c.fa = lambda v, p, rt: (malformed(v, p, rt), None)
            return c
        draft = draft_of(node, draft)
        checkers = self._compile_object(node, draft, sp, base)
        self._unlinked.append((c, base, [chk for _, chk in checkers],
                               any(name in _CONSUMERS for name, _ in checkers)))
        return c

    def _link(self):
        """Build the functions of the nodes compiled since the last call.
        Only when a dynamic reference reads it does a node keep the
        dynamic scope chain."""
        for c, base, checkers, collect in self._unlinked:
            c.fn, c.fa = _node(base if self._dynamic else None, checkers,
                               collect)
        self._unlinked.clear()

    def _compile_now(self, node: Any, draft: str, sp: str) -> Compiled:
        """``_compile`` during validation (a dynamic reference's target)."""
        c = self._compile(node, draft, sp)
        self._link()
        return c

    def _compile_object(self, node: dict, draft: str, sp: str, base: str):
        """Compile one schema object into an ordered list of (keyword,
        checker).

        Keyword ordering is dependency-driven like the reference's
        topo-sorted vocabularies (vocabulary.cljc:190-192): in-place
        applicators and $ref run before unevaluated*; properties /
        patternProperties before additionalProperties; contains before
        min/maxContains; if before then/else."""
        kw = _KEYWORDS[draft]
        old_ref = not _ge(draft, D2019)
        if old_ref and isinstance(node.get("$ref"), str):
            # draft<=7: $ref replaces all siblings (vocabulary.cljc:154,158)
            return [("$ref", self._c_ref(node["$ref"], base, draft, sp))]
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
                checkers.append((name, chk))
        return checkers

    # -- $ref family -------------------------------------------------------

    def _c_ref(self, ref: str, base: str, draft: str, sp: str):
        return _in_place(self.compile_ref_target(ref, base, draft, sp))

    def compile_ref_target(self, ref: str, base: str, draft: str, sp: str):
        return self._compile(self.index.resolve(ref, base)[0], draft, sp)


# --------------------------------------------------------------------------
# keyword compilers
#
# Each has signature  c(cs, node, v, draft, sp, base) -> checker | None.
# A checker is either a value checker
#     chk(value, path, rt) -> errors | None
# or, for a keyword whose evaluated properties/items an unevaluated*
# keyword can see, a pair (chk, achk) whose
#     achk(value, path, rt, acc) -> errors | None
# also adds them to ``acc``, the node's (properties, items) sets; the
# node runs ``achk`` only when an unevaluated* keyword reads them
# (``_node``), mirroring how the reference threads :matched/:evaluated
# through c1 (property.cljc:992-1011, 1004-1009).  ``path`` is the
# document path, ``""`` or ``(parent path, key)``; a violation carries
# it as a JSON pointer (``_ptr``).  A subschema is a :class:`Compiled`:
# ``sub.fn`` for its violations, ``sub.fa`` for violations and
# annotations.


_CONSUMERS = ("unevaluatedItems", "unevaluatedProperties")


# what a checker reports under ``rt.quiet``: its caller asks only
# whether anything was reported, so no violation is built
_DISCARDED = (Violation("", "", "", "thrown away by the caller"),)


def _err(rt, kw, sp, p, msg, level="error"):
    if rt.quiet:
        return _DISCARDED
    return [Violation(kw, sp, _ptr(p), msg, level)]


def _in_place(sub: Compiled):
    """Checker pair applying ``sub`` to the value itself: its violations
    and annotations pass through ($ref)."""
    def chk(v, p, rt):
        return sub.fn(v, p, rt)

    def achk(v, p, rt, acc):
        e, a = sub.fa(v, p, rt)
        _annotate(acc, a)
        return e
    return chk, achk


def _quiet_fails(sub: Compiled, v, p, rt) -> bool:
    """Whether ``sub`` reports anything for ``v``, when the caller throws
    the violations away (no value is stamped on them)."""
    rt.quiet += 1
    e = sub.fn(v, p, rt)
    rt.quiet -= 1
    return bool(e)


# ---- core / refs ----


def c_ref(cs, node, v, draft, sp, base):
    if not isinstance(v, str):
        return None
    return cs._c_ref(v, base, draft, sp)


def _dynamic(target_of):
    """Checker pair applying the subschema ``target_of(value, path, rt)``
    picks from the dynamic scope (a :class:`Compiled`, or violations when
    there is none)."""
    def chk(v, p, rt):
        t = target_of(v, p, rt)
        return t.fn(v, p, rt) if isinstance(t, Compiled) else t

    def achk(v, p, rt, acc):
        t = target_of(v, p, rt)
        if not isinstance(t, Compiled):
            return t
        e, a = t.fa(v, p, rt)
        _annotate(acc, a)
        return e
    return chk, achk


def c_dynamic_ref(cs, node, v, draft, sp, base):
    """$dynamicRef: the target is chosen per validation from the dynamic
    scope (``_Index.dynamic_ref`` / ``dynamic_target``)."""
    if not isinstance(v, str):
        return None
    dyn = cs.index.dynamic_ref(v, base, draft)
    if dyn is None:
        return cs._c_ref(v, base, draft, sp)
    name, static = dyn
    cs._dynamic = True
    if static is not None:
        # compiled now, so its errors surface at compile time
        cs._compile(static[0], draft, sp)

    def target(v_, p, rt):
        t = cs.index.dynamic_target(name, rt.scope, static)
        if t is None:
            return _err(rt, "$dynamicRef", sp, p,
                        f"$dynamicRef: no anchor {name!r} in dynamic scope")
        return cs._compile_now(t[0], draft, sp)
    return _dynamic(target)


def c_recursive_ref(cs, node, v, draft, sp, base):
    """$recursiveRef '#': the target is chosen per validation from the
    dynamic scope (``_Index.recursive_target``)."""
    if v != "#":
        return cs._c_ref(v, base, draft, sp) if isinstance(v, str) else None
    # the static target compiles now, so its errors surface at compile time
    cs._dynamic = True
    cs._compile(cs.index.recursive_target(base, ())[0], draft, sp)

    def target(v_, p, rt):
        return cs._compile_now(
            cs.index.recursive_target(base, rt.scope)[0], draft, sp)
    return _dynamic(target)


# ---- type / enum / const ----


_TYPE_CLASSES = {"string": (str,), "object": (dict,), "array": (list, tuple),
                 "boolean": (bool,)}


def _type_pred(names: list, strict: bool):
    """One predicate for "the value has one of the JSON types ``names``"
    (``type_check`` over each name).  A value outside the JSON model
    fails it, and the violation's message raises ``json_type``'s
    TypeError."""
    if "any" in names:  # draft-03
        return lambda x: True
    if "number" in names:
        num = is_number
    elif "integer" in names:
        num = is_integer_strict if strict else is_integer_loose
    else:
        num = None
    classes = tuple(c for n in names for c in _TYPE_CLASSES.get(n, ()))
    null = "null" in names
    if num is None and not null:
        return lambda x: isinstance(x, classes)
    if not classes and not null:
        return num
    return lambda x: (isinstance(x, classes) or (null and x is None)
                      or (num is not None and num(x)))


def c_type(cs, node, v, draft, sp, base):
    strict = draft in (DRAFT3, DRAFT4)
    if isinstance(v, str):
        ok = _type_pred([v], strict)

        def chk(val, p, rt):
            if not ok(val):
                return _err(rt, "type", sp, p,
                            f"expected type {v}, got {json_type(val)}")
        return chk
    if isinstance(v, list):
        names = [t for t in v if isinstance(t, str)]
        schemas = [cs._compile(t, draft, join_pointer(sp, i))
                   for i, t in enumerate(v) if isinstance(t, dict)]
        if "any" in names or schemas:
            # draft-03 only: the lattice's order of evaluation, name by
            # name, then the embedded schemas
            def ok(val):
                return any(type_check(val, n, strict) for n in names)
        else:
            ok = _type_pred(names, strict)

        def chk(val, p, rt):
            if ok(val):
                return None
            for s in schemas:  # draft-03 union with embedded schemas
                if not _quiet_fails(s, val, p, rt):
                    return None
            return _err(rt, "type", sp, p,
                        f"expected one of {names}, got {json_type(val)}")
        return chk
    if isinstance(v, dict):  # draft-03: schema as type
        compiled = cs._compile(v, draft, sp)

        def chk(val, p, rt):
            if _quiet_fails(compiled, val, p, rt):
                return _err(rt, "type", sp, p, "value does not match type schema")
        return chk
    return None


def c_disallow(cs, node, v, draft, sp, base):
    """draft-03 negated type (property.cljc:54-63)."""
    pos = c_type(cs, node, v, draft, sp, base)
    if pos is None:
        return None

    def chk(val, p, rt):
        rt.quiet += 1
        e = pos(val, p, rt)
        rt.quiet -= 1
        if not e:
            return _err(rt, "disallow", sp, p, f"disallowed type matched: {v}")
    return chk


def c_enum(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    vals = list(v)

    def chk(val, p, rt):
        if not any(json_eq(val, x) for x in vals):
            return _err(rt, "enum", sp, p, f"value not in enum ({len(vals)} options)")
    return chk


def c_const(cs, node, v, draft, sp, base):
    def chk(val, p, rt):
        if not json_eq(val, v):
            return _err(rt, "const", sp, p, "value does not equal const")
    return chk


# ---- numbers ----


def _num_chk(kw, sp, pred, msg_fmt, bound):
    def chk(val, p, rt):
        if is_number(val) and not pred(val):
            return _err(rt, kw, sp, p, msg_fmt.format(val=val, bound=bound))
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

    def chk(val, p, rt):
        if isinstance(val, str) and json_length(val) < v:
            return _err(rt, "minLength", sp, p, f"string shorter than {v}")
    return chk


def c_max_length(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off

    def chk(val, p, rt):
        if isinstance(val, str) and json_length(val) > v:
            return _err(rt, "maxLength", sp, p, f"string longer than {v}")
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

    def chk(val, p, rt):
        # ECMA 'test' semantics: unanchored find (property.cljc:702-720)
        if isinstance(val, str) and not match(val):
            return _err(rt, "pattern", sp, p, f"string does not match {v!r}")
    return chk


def c_format(cs, node, v, draft, sp, base):
    """Assertion vs annotation mode per draft (property.cljc:682-700);
    unknown formats warn, never error (property.cljc:696-697)."""
    if not isinstance(v, str):
        return None
    fn = cs.formats.get(v)
    level = "error" if cs.format_assertion else "warning"
    if fn is None:
        def chk_unknown(val, p, rt):
            if isinstance(val, str):
                return _err(rt, "format", sp, p, f"unknown format {v!r}", "warning")
        return chk_unknown

    def chk(val, p, rt):
        if isinstance(val, str) and not fn(val):
            return _err(rt, "format", sp, p, f"not a valid {v}", level)
    return chk


# ---- objects ----


def c_properties(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None
    subs = {}
    required3 = []
    for k, s in v.items():
        if draft == DRAFT3 and isinstance(s, dict) and s.get("required") is True:
            required3.append((k, join_pointer(sp, k)))
        subs[k] = cs._compile(s, draft, join_pointer(sp, k))
    subs = list(subs.items())

    def chk(val, p, rt, acc=None):
        if not isinstance(val, dict):
            return None
        errs = []
        for k, sub in subs:
            if k in val:
                e = sub.fn(val[k], (p, k), rt)
                if e:
                    errs += e
                if acc is not None:
                    acc[0].add(k)
        for k, sp_k in required3:
            if k not in val:
                errs += _err(rt, "required", sp_k, p,
                             f"required property {k!r} missing")
        return errs
    return chk, chk


def c_pattern_properties(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None
    pairs = []
    for pat, s in v.items():
        match = _pattern_matcher(cs, pat)  # honors $format: keys
        if match is None:
            continue
        pairs.append((match, cs._compile(s, draft, join_pointer(sp, pat))))

    def chk(val, p, rt, acc=None):
        if not isinstance(val, dict):
            return None
        errs = []
        for k, item in val.items():
            for match, sub in pairs:
                if match(k):
                    if acc is not None:
                        acc[0].add(k)
                    e = sub.fn(item, (p, k), rt)
                    if e:
                        errs += e
        return errs
    return chk, chk


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

    def chk(val, p, rt, acc=None):
        if not isinstance(val, dict):
            return None
        errs = []
        for k, item in val.items():
            if k in named or any(match(k) for match in pats):
                continue
            if acc is not None:
                acc[0].add(k)
            e = sub.fn(item, (p, k), rt)
            if e:
                errs += e
        return errs
    return chk, chk


def c_unevaluated_properties(cs, node, v, draft, sp, base):
    """Runs LAST; sees the evaluated keys of its siblings in ``acc``
    (reference threads this through c1: property.cljc:1083-1095)."""
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt, acc):
        if not isinstance(val, dict):
            return None
        seen = acc[0]
        errs = []
        for k, item in val.items():
            if k in seen:
                continue
            seen.add(k)
            e = sub.fn(item, (p, k), rt)
            if e:
                errs += e
        return errs
    return chk, chk


def c_property_names(cs, node, v, draft, sp, base):
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt):
        if not isinstance(val, dict):
            return None
        errs = []
        for k in val:
            if _quiet_fails(sub, k, (p, k), rt):
                errs += _err(rt, "propertyNames", sp, p,
                             f"property name {k!r} is invalid")
        return errs
    return chk


def c_required(cs, node, v, draft, sp, base):
    if draft == DRAFT3 or not isinstance(v, list):
        return None  # draft-03 required lives inside property schemas

    def chk(val, p, rt):
        if isinstance(val, dict):
            missing = [k for k in v if k not in val]
            if missing:
                if rt.quiet:
                    return _DISCARDED
                here = _ptr(p)
                return [Violation("required", sp, here,
                                  f"required property {k!r} missing")
                        for k in missing]
    return chk


def c_min_properties(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off

    def chk(val, p, rt):
        if isinstance(val, dict) and len(val) < v:
            return _err(rt, "minProperties", sp, p, f"fewer than {v} properties")
    return chk


def c_max_properties(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off

    def chk(val, p, rt):
        if isinstance(val, dict) and len(val) > v:
            return _err(rt, "maxProperties", sp, p, f"more than {v} properties")
    return chk


def _present_deps(kw, deps: list):
    """Value checker for (key, schema path, required keys) triples: an
    object holding the key must hold every required key."""
    def chk(val, p, rt):
        if not isinstance(val, dict):
            return None
        errs = []
        for k, sp_k, needs in deps:
            if k in val:
                for n in needs:
                    if n not in val:
                        errs += _err(rt, kw, sp_k, p,
                                     f"property {k!r} requires {n!r}")
        return errs
    return chk


def _applying(select):
    """Checker pair applying to the value itself, in order, each
    subschema ``select(value)`` returns; a passing one's annotations
    count (allOf, dependentSchemas and their kin)."""
    def chk(val, p, rt):
        errs = []
        for sub in select(val):
            e = sub.fn(val, p, rt)
            if e:
                errs += e
        return errs

    def achk(val, p, rt, acc):
        errs = []
        for sub in select(val):
            e, a = sub.fa(val, p, rt)
            if e:
                errs += e
            else:
                _annotate(acc, a)
        return errs
    return chk, achk


def _keyed(deps: list):
    """The subschemas of (key, subschema) pairs whose key an object
    holds."""
    return lambda val: [sub for k, sub in deps if k in val] \
        if isinstance(val, dict) else ()


def c_dependencies(cs, node, v, draft, sp, base):
    """draft≤7 combined form (property.cljc:812-846): per-key value is a
    string (draft3), array of strings, or a schema."""
    if not isinstance(v, dict):
        return None
    present = []
    schemas = []
    for k, d in v.items():
        if isinstance(d, str):
            present.append((k, join_pointer(sp, k), [d]))
        elif isinstance(d, list):
            present.append((k, join_pointer(sp, k),
                            [x for x in d if isinstance(x, str)]))
        elif isinstance(d, (dict, bool)):
            schemas.append((k, cs._compile(d, draft, join_pointer(sp, k))))
    pchk = _present_deps("dependencies", present)
    schk, sachk = _applying(_keyed(schemas))

    def chk(val, p, rt):
        return (pchk(val, p, rt) or []) + (schk(val, p, rt) or [])

    def achk(val, p, rt, acc):
        return (pchk(val, p, rt) or []) + (sachk(val, p, rt, acc) or [])
    return chk, achk


def c_dependent_required(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None
    return _present_deps("dependentRequired", [
        (k, join_pointer(sp, k), needs) for k, needs in v.items()
        if isinstance(needs, list)])


def c_dependent_schemas(cs, node, v, draft, sp, base):
    if not isinstance(v, dict):
        return None
    return _applying(_keyed([(k, cs._compile(s, draft, join_pointer(sp, k)))
                             for k, s in v.items()]))


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

    def select(val):
        if not isinstance(val, dict):
            return ()
        return [m[pv] for prop, m in table.items()
                if isinstance(pv := val.get(prop), str) and pv in m]
    return _applying(select)


# ---- arrays ----


def _positional(subs: list):
    """Checker pair for a positional (tuple) item list: element i against
    ``subs[i]``; the indices applied count as evaluated."""
    def chk(val, p, rt, acc=None):
        if not isinstance(val, list):
            return None
        errs = []
        for i, sub in enumerate(subs[:len(val)]):
            e = sub.fn(val[i], (p, i), rt)
            if e:
                errs += e
        if acc is not None:
            acc[1].update(range(min(len(subs), len(val))))
        return errs
    return chk, chk


def _tail(start: int, sub: Compiled):
    """Checker pair applying ``sub`` to every element from ``start`` on;
    those indices count as evaluated."""
    def chk(val, p, rt, acc=None):
        if not isinstance(val, list):
            return None
        errs = []
        for i in range(start, len(val)):
            e = sub.fn(val[i], (p, i), rt)
            if e:
                errs += e
        if acc is not None:
            acc[1].update(range(start, len(val)))
        return errs
    return chk, chk


def c_prefix_items(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    return _positional([cs._compile(s, draft, join_pointer(sp, i))
                        for i, s in enumerate(v)])


def c_items(cs, node, v, draft, sp, base):
    """Schema form: every element past the positional prefix; tuple form
    (draft≤2019): positional (property.cljc:1156-1208)."""
    if isinstance(v, list):  # tuple form
        return _positional([cs._compile(s, draft, join_pointer(sp, i))
                            for i, s in enumerate(v)])
    offset = 0
    if draft in (D2020, DNEXT):
        pi = node.get("prefixItems")
        if isinstance(pi, list):
            offset = len(pi)
    return _tail(offset, cs._compile(v, draft, sp))


def c_additional_items(cs, node, v, draft, sp, base):
    """Only active when sibling items is tuple-form (property.cljc:1210-1228)."""
    items = node.get("items")
    if not isinstance(items, list):
        return None
    return _tail(len(items), cs._compile(v, draft, sp))


def c_unevaluated_items(cs, node, v, draft, sp, base):
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt, acc):
        if not isinstance(val, list):
            return None
        seen = acc[1]
        errs = []
        for i in range(len(val)):
            if i in seen:
                continue
            seen.add(i)
            e = sub.fn(val[i], (p, i), rt)
            if e:
                errs += e
        return errs
    return chk, chk


def c_contains(cs, node, v, draft, sp, base):
    """≥1 element conforms; bounds via min/maxContains
    (property.cljc:1245-1291).  In 2020-12 matched indices count as
    evaluated for unevaluatedItems; in 2019-09 they do not."""
    sub = cs._compile(v, draft, sp)
    min_c = node.get("minContains", 1)
    max_c = node.get("maxContains")
    count_evaluated = draft in (D2020, DNEXT)

    def chk(val, p, rt, acc=None):
        if not isinstance(val, list):
            return None
        matched = [i for i, item in enumerate(val)
                   if not _quiet_fails(sub, item, (p, i), rt)]
        errs = []
        if len(matched) < (min_c if isinstance(min_c, (int, float)) else 1):
            kw = "contains" if min_c == 1 else "minContains"
            errs += _err(rt, kw, sp, p, f"fewer than {min_c} elements match contains")
        if isinstance(max_c, (int, float)) and len(matched) > max_c:
            errs += _err(rt, "maxContains", sp, p,
                         f"more than {max_c} elements match contains")
        if acc is not None and count_evaluated:
            acc[1].update(matched)
        return errs
    return chk, chk


def c_min_items(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off

    def chk(val, p, rt):
        if isinstance(val, list) and len(val) < v:
            return _err(rt, "minItems", sp, p, f"fewer than {v} items")
    return chk


def c_max_items(cs, node, v, draft, sp, base):
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None  # malformed bound: ignored when meta-validation is off

    def chk(val, p, rt):
        if isinstance(val, list) and len(val) > v:
            return _err(rt, "maxItems", sp, p, f"more than {v} items")
    return chk


def c_unique_items(cs, node, v, draft, sp, base):
    if v is not True:
        return None

    def chk(val, p, rt):
        if isinstance(val, list) and not unique_items(val):
            return _err(rt, "uniqueItems", sp, p, "array items are not unique")
    return chk


# ---- combinators (check-of analog: property.cljc:1334-1349) ----


def c_all_of(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    subs = [cs._compile(s, draft, join_pointer(sp, i)) for i, s in enumerate(v)]
    return _applying(lambda val: subs)


def _passing(subs: list, val, p, rt, acc):
    """How many of ``subs`` pass ``val``; every branch runs, its
    violations thrown away.  With ``acc``, the passing branches'
    annotations are added to it."""
    n_ok = 0
    rt.quiet += 1
    for sub in subs:
        if acc is None:
            e = sub.fn(val, p, rt)
        else:
            e, a = sub.fa(val, p, rt)
        if not e:
            n_ok += 1
            if acc is not None:
                _annotate(acc, a)
    rt.quiet -= 1
    return n_ok


def c_any_of(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    subs = [cs._compile(s, draft, join_pointer(sp, i)) for i, s in enumerate(v)]

    def chk(val, p, rt, acc=None):
        if not _passing(subs, val, p, rt, acc):
            return _err(rt, "anyOf", sp, p, f"no schema of {len(subs)} matched")
    return chk, chk


def c_one_of(cs, node, v, draft, sp, base):
    if not isinstance(v, list):
        return None
    subs = [cs._compile(s, draft, join_pointer(sp, i)) for i, s in enumerate(v)]

    def chk(val, p, rt, acc=None):
        # annotations are added only when exactly one branch passes
        ann = None if acc is None else (set(), set())
        n_ok = _passing(subs, val, p, rt, ann)
        if n_ok != 1:
            return _err(rt, "oneOf", sp, p,
                        f"expected exactly 1 of {len(subs)} schemas, got {n_ok}")
        if acc is not None:
            _annotate(acc, ann)
    return chk, chk


def c_not(cs, node, v, draft, sp, base):
    sub = cs._compile(v, draft, sp)

    def chk(val, p, rt):
        if not _quiet_fails(sub, val, p, rt):
            return _err(rt, "not", sp, p, "value matches 'not' schema")
    return chk


def c_extends(cs, node, v, draft, sp, base):
    """draft-03 allOf precursor (property.cljc:1393-1406)."""
    schemas = v if isinstance(v, list) else [v]
    subs = [cs._compile(s, draft, join_pointer(sp, i))
            for i, s in enumerate(schemas) if isinstance(s, (dict, bool))]
    return _applying(lambda val: subs)[0]  # annotations are not kept


def c_if(cs, node, v, draft, sp, base):
    """Pure-expression conditional (property.cljc:944-978)."""
    if_s = cs._compile(v, draft, sp)
    then_v = node.get("then")
    else_v = node.get("else")
    then_s = cs._compile(then_v, draft, sp + "/../then") if isinstance(
        then_v, (dict, bool)) else None
    else_s = cs._compile(else_v, draft, sp + "/../else") if isinstance(
        else_v, (dict, bool)) else None

    def chk(val, p, rt):
        branch = else_s if _quiet_fails(if_s, val, p, rt) else then_s
        if branch is not None:
            return branch.fn(val, p, rt)

    def achk(val, p, rt, acc):
        rt.quiet += 1
        e, a = if_s.fa(val, p, rt)
        rt.quiet -= 1
        if not e:
            _annotate(acc, a)
        branch = else_s if e else then_s
        if branch is not None:
            e, a = branch.fa(val, p, rt)
            if e:
                return e
            _annotate(acc, a)
    return chk, achk


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

    def chk(val, p, rt):
        if not isinstance(val, str):
            return None
        decoded = val
        if enc == "base64":
            try:
                decoded = base64.b64decode(val, validate=True).decode("utf-8")
            except (binascii.Error, UnicodeDecodeError, ValueError):
                return _err(rt, "contentEncoding", sp, p,
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
                    return _err(rt, "contentSchema", sp, p,
                                "content is not valid JSON", "warning")
                return _err(rt, "contentMediaType", sp, p,
                            "content is not valid JSON", level)
            if sub is not None:
                e = sub.fn(parsed, p, rt)
                if e:
                    return [Violation(x.keyword, x.schema_path, x.doc_path,
                                      x.message, "warning") for x in e]
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

    def chk(val, p, rt):
        return _err(rt, "deprecated", sp, p, "deprecated", "warning")
    return chk


def c_comment(cs, node, v, draft, sp, base):
    def chk(val, p, rt):
        return _err(rt, "$comment", sp, p, str(v), "info")
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

"""Driver-side eager ``$ref``/``$defs`` inlining for the columnar
compiler (SURVEY §2.8 "eager driver-side inlining with cycle
detection" + "static scope-chain simulation").

The most common schema idiom — a document reusing fragments via
``$defs``/``definitions`` and local ``$ref`` — would otherwise route
the whole query to the Arrow interpreter, because the Column-expression
compiler cannot follow references at plan-build time.  This pre-pass
expands references once on the driver, so the compiled plan stays pure
JVM.

Every reference resolves through the interpreter's own URI index
(``m3spark.schema.core._Index``): the same ``$id``/``$anchor``/
``$dynamicAnchor`` registry, the same admission of registry, ``uri_dirs``
and vendored meta-schema resources, and the same choice of a
``$dynamicRef``/``$recursiveRef`` target for a scope chain.  This module
is only the transform:

- drafts <= 7: ``$ref`` REPLACES its siblings — the node becomes the
  resolved target (reference property.cljc:227-246, ref.cljc:133-140);
- 2019-09+: ``$ref`` MELDS with its siblings — the node becomes
  ``{"allOf": [target], **siblings}`` (property.cljc:247-295,
  ref.cljc:141-151).  Representing the melded ref as an ``allOf``
  branch is annotation-exact for the unevaluated* claim algebra: a
  ``$ref``'s annotations flow to the parent schema exactly when the
  referenced schema succeeds, which is precisely the compiler's
  branch-claim rule (annotation-scope isolation,
  property.cljc:268-293).

**Static scope chain**: the interpreter's dynamic scope (core.py
_Rt.scope; the reference's ``$dynamic-scope-chain``,
property.cljc:211-216) is the chain of schema resources entered along
the evaluation path.  Eager expansion follows exactly those paths, so
the chain at every expansion point is known at compile time and
``$recursiveRef``/``$dynamicRef`` resolve statically per path — even
for the tree/strict-tree bundle, where the same ``$dynamicRef``
resolves differently depending on the entry resource.  Keywords
inactive in the compile draft (e.g. ``$dynamicRef`` under draft-7) are
ignored by the interpreter and therefore stripped.

The transform is conservative — it returns the ORIGINAL schema
untouched (so the compiler's standing ``UnsupportedKeyword`` escape
hatch routes it to the interpreter) whenever one output tree under one
draft cannot express what the interpreter does:

- a reference the index cannot resolve;
- an expanded node whose ``$schema`` switches to a DIFFERENT draft, or
  a target in a resource (registry or embedded) of another draft;
- a target reached through a URI or anchor the index bound to two
  different nodes (which binding stands depends on walk order);
- a ``$dynamicRef`` with no anchor in scope (the interpreter emits a
  per-row error there — that path stays with the interpreter);
- a base-URI-changing ``$id`` in a pointer target the index never
  walked (under an unknown keyword, say: the interpreter leaves such an
  ``$id`` inert);
- a NON-PRODUCTIVE reference cycle (a ``$ref`` loop that re-enters
  itself without descending through any data-structural keyword —
  unrolling it would never consume input depth);
- expansion beyond a node budget (diamond-DAG blow-up guard).

PRODUCTIVE cycles — recursion that passes through ``properties`` /
``items`` / another data-descent keyword (the linked-list / tree
idiom, reference lazy resolution at property.cljc:204-295) — are
UNROLLED ``unroll`` levels (default 8, ``ColumnarValidator``'s
``ref_unroll``).  Spark column types are finite trees, so the unrolled
plan is EXACT for every input whose type nests no deeper than the
unroll depth: the compiler's type-driven builder descent simply never
reaches the cut.  At the cut the inliner plants
``{"x-m3-unroll-guard": <ref>}``; the compiler lowers that to a
builder that raises ``UnsupportedKeyword`` at ``apply()`` time IF AND
ONLY IF the input column type actually nests
deeper than the unroll — i.e. deeper-typed tables still route to the
Arrow interpreter, shallow ones stay pure JVM.

Only the tree positions that hold schemas are rewritten — literal
values under ``enum`` / ``const`` / ``default`` / ``examples`` are
copied verbatim, so data that merely *looks* like a ``$ref`` object is
never touched.
"""

from __future__ import annotations

import logging

from m3spark.schema.core import (D2019, _KEYWORDS, SchemaError, _ge,
                                 _id_keyword, _Index, draft_of)
from m3spark.schema.uris import resolve_uri, split_fragment

__all__ = ["inline_local_refs", "UNROLL_GUARD_KEY"]

_log = logging.getLogger(__name__)

# marker planted at a productive-cycle cut; the compiler lowers it to a
# builder that raises UnsupportedKeyword only when the input type is
# deep enough to reach it (never a real JSON Schema keyword)
UNROLL_GUARD_KEY = "x-m3-unroll-guard"

# keys whose value is one schema (or draft-dependent single-schema form)
_SINGLE_SCHEMA_KEYS = (
    "additionalItems", "additionalProperties", "contains", "propertyNames",
    "not", "if", "then", "else", "unevaluatedItems",
    "unevaluatedProperties", "contentSchema",
)
# keys whose value is a map name -> schema
_MAP_SCHEMA_KEYS = ("properties", "patternProperties", "$defs",
                    "definitions", "dependentSchemas")
# keys whose value is a list of schemas
_LIST_SCHEMA_KEYS = ("allOf", "anyOf", "oneOf", "prefixItems")

# inert after successful inlining: definition containers and anchors
# (anchors matter only to the ref family, which no longer exists in
# the output — $recursiveRef/$dynamicRef are statically resolved or
# the whole transform gave up)
_STRIP_KEYS = frozenset({"$defs", "definitions", "$anchor",
                         "$dynamicAnchor", "$recursiveAnchor"})
_REF_KEYS = ("$ref", "$recursiveRef", "$dynamicRef")

_NODE_BUDGET = 20_000

# keywords whose subschema applies to a CHILD value (consumes input
# depth) — a $ref cycle is productive, and therefore unrollable, only
# if every loop passes through one of these
_DATA_DESCENT_KEYS = frozenset({
    "properties", "patternProperties", "additionalProperties",
    "items", "prefixItems", "additionalItems", "contains",
    "unevaluatedItems", "unevaluatedProperties",
    "contentSchema",
    # NOT propertyNames: its fragment is evaluated driver-side by the
    # interpreter at compile time (build_pn_root), which treats a
    # planted guard as an unknown-keyword no-op — a cycle through it
    # must stay a GiveUp, never an unroll
})
# sentinel pushed on the expansion stack at each data descent
_DESCENT = "*"


class _GiveUp(Exception):
    """Transform cannot be done safely; caller keeps the original."""


def inline_local_refs(schema, draft: str, unroll: int = 8,
                      registry: dict | None = None,
                      uri_dirs: dict | None = None):
    """Return ``schema`` with every reference eagerly expanded
    (productive cycles unrolled ``unroll`` levels, cut with
    ``UNROLL_GUARD_KEY`` markers), or ``schema`` unchanged if any
    reference cannot be handled safely.  ``registry`` and ``uri_dirs``
    admit external resources as the interpreter does (core.py
    _Index.resource); they inline exactly like embedded bundles."""
    if not isinstance(schema, dict):
        return schema
    try:
        if not _contains_ref(schema):
            return schema
        return _Inliner(schema, draft, unroll, registry, uri_dirs).run()
    except _GiveUp:
        return schema


def _contains_ref(node) -> bool:
    """Cheap structural scan: does any schema position carry a ref-family
    keyword?  (Walks every dict/list — over-approximate on purpose; the
    real transform is schema-position-aware.)"""
    if isinstance(node, dict):
        if any(k in node for k in ("$ref", "$dynamicRef", "$recursiveRef")):
            return True
        return any(_contains_ref(v) for v in node.values())
    if isinstance(node, list):
        return any(_contains_ref(x) for x in node)
    return False


class _Inliner:
    def __init__(self, root: dict, draft: str, unroll: int = 8,
                 registry: dict | None = None,
                 uri_dirs: dict | None = None):
        self.root = root
        self.draft = draft
        self.keywords = _KEYWORDS[draft]
        self.unroll = max(0, unroll)
        self.meld = _ge(draft, D2019)
        self.id_key = _id_keyword(draft)
        self.index = _Index(draft, registry, uri_dirs)
        self.root_uri = self.index.index_root(root)
        self.budget = _NODE_BUDGET

    # -- resolution through the interpreter's index -----------------------

    def _target(self, node, uri: str, dup_key: tuple, key: str):
        """Check one resolved target -> (node, cycle key)."""
        if dup_key in self.index.dups \
                or ("resource", uri) in self.index.dups:
            raise _GiveUp(f"{dup_key!r} is bound to two nodes")
        res = self.index.resources.get(uri)
        if res is not self.root and not isinstance(res, bool) and not (
                isinstance(res, dict)
                and draft_of(res, self.draft) == self.draft):
            # the interpreter compiles such a resource under its own
            # draft; the single output tree has one
            raise _GiveUp(f"resource {uri!r} is in another draft")
        return node, key

    def _resolve(self, ref: str, base: str):
        try:
            node, uri, frag = self.index.resolve(ref, base)
        except SchemaError as e:
            raise _GiveUp(str(e)) from None
        if not frag:
            return self._target(node, uri, ("resource", uri), f"res:{uri}")
        if frag.startswith("/"):
            return self._target(node, uri, ("resource", uri),
                                f"ptr:{uri}#{frag}")
        return self._target(node, uri, ("anchor", (uri, frag)),
                            f"anchor:{uri}#{frag}")

    def _dynamic(self, ref: str, base: str, chain: tuple):
        dyn = self.index.dynamic_ref(ref, base, self.draft)
        if dyn is None:
            return self._resolve(ref, base)
        name, static = dyn
        hit = self.index.dynamic_target(name, chain, static)
        if hit is None:
            # the interp emits a per-row "no anchor in dynamic scope"
            # error here — leave that path to the interp
            raise _GiveUp(f"no anchor {name!r} in dynamic scope")
        node, kind, uri = hit
        prefix = "dyn" if kind == "dynamic" else kind
        return self._target(node, uri, (kind, (uri, name)),
                            f"{prefix}:{uri}#{name}")

    # -- transform ------------------------------------------------------

    def run(self):
        return self._schema(self.root, (), (self.root_uri,), top=True)

    def _spend(self):
        self.budget -= 1
        if self.budget <= 0:
            raise _GiveUp("expansion budget exceeded")

    def _schema(self, node, stack: tuple, chain: tuple, top=False):
        """``stack`` holds the cycle keys of in-flight expansions plus a
        ``_DESCENT`` sentinel per data-structural descent; re-entering a
        key with no descent since its last occurrence is a
        non-productive loop (GiveUp), re-entering through descent
        unrolls up to ``self.unroll`` times, then cuts with a guard.
        ``chain`` is the static scope chain: resource URIs entered
        along this expansion path, deduping consecutive repeats —
        exactly the interp's _Rt.scope at the same point."""
        if not isinstance(node, dict):
            return node
        self._spend()
        nb = self.index.node_base.get(id(node))
        if nb is None:
            # a pointer target the index never walked compiles under the
            # document root resource (core.py _compile), where an $id of
            # its own is inert — resolution this tree does not reproduce
            nb = self.root_uri
            idv = node.get(self.id_key)
            if isinstance(idv, str) and idv and split_fragment(
                    resolve_uri(nb, idv) if nb else idv)[0] not in ("", nb):
                raise _GiveUp("base-URI change in an unindexed subtree")
        if nb != chain[-1]:
            chain = chain + (nb,)
        if not top and draft_of(node, self.draft) != self.draft:
            raise _GiveUp("mid-schema draft switch")
        r = node.get("$ref")
        if r is not None and not isinstance(r, str):
            raise _GiveUp("non-string $ref")
        if isinstance(r, str) and not self.meld:
            # drafts <= 7: $ref replaces every sibling ($recursiveRef /
            # $dynamicRef are inactive there, so nothing else to meld)
            target, key = self._resolve(r, nb)
            return self._expand(target, key, r, stack, chain)
        # meld-era: each active ref-family keyword contributes an
        # independent checker alongside its siblings (core.py
        # _compile_object ordered keyword list) — expand each into an
        # allOf branch
        branches = []
        had_ref = False
        if isinstance(r, str):
            had_ref = True
            branches.append(
                self._expand(*self._resolve(r, nb), r, stack, chain))
        rr = node.get("$recursiveRef")
        if isinstance(rr, str) and "$recursiveRef" in self.keywords:
            had_ref = True
            if rr == "#":
                target, uri = self.index.recursive_target(nb, chain)
                target, key = self._target(target, uri, ("resource", uri),
                                           f"rref:{uri}")
            else:
                # non-'#' values fall back to plain-$ref semantics
                # (core.py c_recursive_ref)
                target, key = self._resolve(rr, nb)
            branches.append(self._expand(target, key, rr, stack, chain))
        dr = node.get("$dynamicRef")
        if isinstance(dr, str) and "$dynamicRef" in self.keywords:
            had_ref = True
            branches.append(self._expand(
                *self._dynamic(dr, nb, chain), dr, stack, chain))
        if not had_ref:
            return self._plain(node, stack, chain, top)
        siblings = {k: v for k, v in node.items() if k not in _REF_KEYS}
        branches = [b for b in branches if b is not True and b != {}]
        if not siblings:
            if not branches:
                return True
            if len(branches) == 1:
                return branches[0]
            return {"allOf": branches}
        out = self._plain(siblings, stack, chain, top)
        if branches:
            out["allOf"] = list(out.get("allOf", [])) + branches
        return out

    def _expand(self, target, key: str, refstr: str, stack: tuple,
                chain: tuple):
        """Cycle-aware expansion of one resolved ref target."""
        tail_start = 0
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] == _DESCENT:
                tail_start = i + 1
                break
        if key in stack[tail_start:]:
            raise _GiveUp(f"non-productive cycle through {refstr!r}")
        if key in stack and stack.count(key) >= self.unroll:
            _log.info(
                "recursive ref %s unrolled %d levels; deeper input "
                "types raise UnsupportedKeyword at apply()",
                refstr, self.unroll)
            return {UNROLL_GUARD_KEY: refstr}
        return self._schema(target, stack + (key,), chain)

    def _plain(self, node: dict, stack: tuple, chain: tuple, top=False):
        out = {}
        for k, v in node.items():
            if k in _STRIP_KEYS:
                continue
            if k in ("$recursiveRef", "$dynamicRef") and \
                    (k not in self.keywords or not isinstance(v, str)):
                # inactive in this draft, or a non-string value: the
                # interpreter ignores it entirely (c_recursive_ref /
                # c_dynamic_ref return None) — drop it so the compiler
                # doesn't route the query to the interp over a no-op
                continue
            if k == self.id_key and isinstance(v, str) and not top:
                # inert after inlining: fragment form was an anchor,
                # non-fragment forms only mattered to reference
                # resolution, which no longer exists in the output
                continue
            if k == "$schema" and not top and isinstance(v, str) \
                    and draft_of({"$schema": v}, self.draft) == self.draft:
                # a same-draft $schema at a nested position (e.g. the
                # root's own, re-inlined): a no-op for the interp
                # (core.py _compile draft_of) — strip so the compiler
                # keeps the plan columnar.  A draft SWITCH never gets
                # here (_schema gives up on it).
                continue
            # keywords applying to a CHILD value consume input depth:
            # mark the descent so a $ref loop through them counts as
            # productive (unrollable) rather than a flat cycle
            st = stack + (_DESCENT,) if k in _DATA_DESCENT_KEYS else stack
            if k in _SINGLE_SCHEMA_KEYS:
                out[k] = self._schema(v, st, chain)
            elif k in _MAP_SCHEMA_KEYS:
                out[k] = ({n: self._schema(s, st, chain)
                           for n, s in v.items()}
                          if isinstance(v, dict) else v)
            elif k in _LIST_SCHEMA_KEYS:
                out[k] = ([self._schema(s, st, chain) for s in v]
                          if isinstance(v, list) else v)
            elif k == "items":
                out[k] = ([self._schema(s, st, chain) for s in v]
                          if isinstance(v, list)
                          else self._schema(v, st, chain))
            elif k == "extends":
                out[k] = ([self._schema(s, st, chain) for s in v]
                          if isinstance(v, list)
                          else self._schema(v, st, chain))
            elif k == "dependencies" and isinstance(v, dict):
                out[k] = {n: (self._schema(s, st, chain)
                              if isinstance(s, (dict, bool)) else s)
                          for n, s in v.items()}
            elif k == "propertyDependencies" and isinstance(v, dict):
                out[k] = {p: ({sv: self._schema(s, st, chain)
                               for sv, s in m.items()}
                              if isinstance(m, dict) else m)
                          for p, m in v.items()}
            else:
                out[k] = v
        return out

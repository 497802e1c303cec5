"""Driver-side eager ``$ref``/``$defs`` inlining for the columnar
compiler (SURVEY §2.8 "eager driver-side inlining with cycle
detection" + "static scope-chain simulation").

The most common schema idiom — a document reusing fragments via
``$defs``/``definitions`` and local ``$ref`` — previously routed the
whole query to the Arrow interpreter because the Column-expression
compiler cannot follow references at plan-build time.  This pre-pass
expands references once on the driver, so the compiled plan stays pure
JVM.

Draft semantics mirror the reference engine:

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

**Multi-resource bundles** (r6): nested ``$id`` subtrees are indexed
as embedded schema resources exactly like the interpreter's registry
walk (core.py _Index.index) — resources keyed by resolved URI,
anchors/dynamic anchors keyed by (resource URI, name), per-node base
URIs.  References across resources resolve like the interpreter's
``_resolve_ref`` restricted to in-document resources; anything
pointing OUTSIDE the document keeps the interp route.

**Static scope-chain simulation**: the interpreter's dynamic scope
(core.py _Rt.scope / Compiled.__call__; the reference's
``$dynamic-scope-chain``, property.cljc:211-216) is the chain of
schema resources entered along the evaluation path, pushing a
resource when it differs from the top of the chain.  Because eager
expansion follows exactly those paths, the chain at every expansion
point is KNOWN AT COMPILE TIME — so ``$recursiveRef`` (2019-09,
outermost ``$recursiveAnchor: true`` resource root wins) and
``$dynamicRef`` (2020-12 bookended; draft-next unbookended with
plain-``$anchor`` static fallback) resolve statically per path, even
for the classic tree/strict-tree bundle where the same ``$dynamicRef``
resolves differently depending on the entry resource.  Keywords
inactive in the compile draft (e.g. ``$dynamicRef`` under draft-7)
are ignored by the interpreter and therefore stripped.

The transform is conservative — it returns the ORIGINAL schema
untouched (so the compiler's standing ``UnsupportedKeyword`` escape
hatch routes it to the interpreter) whenever it sees:

- a reference whose target resource is not embedded in the document;
- a ``$schema`` below the root that switches to a DIFFERENT draft
  (the single output tree compiles under one draft);
- duplicate resource URIs, or an anchor/dynamic-anchor name claimed
  twice in the same resource and actually referenced (ambiguous);
- a ``$dynamicRef`` with no anchor in scope (the interpreter emits a
  per-row error there — that path stays with the interpreter);
- a base-URI-changing ``$id`` inside a subtree reachable ONLY through
  a pointer into an unknown keyword (the interpreter's index never
  walks such subtrees, so the $id is inert there and inner refs
  resolve against the document root — resolution the transform cannot
  reproduce, see ``_scan(register=False)``);
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

from m3spark.schema.core import (DRAFT3, DRAFT4, D2019, D2020, DNEXT,
                                 _ge, draft_of)
from m3spark.schema.uris import (pointer_get, resolve_uri,
                                 split_fragment)

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
    reference cannot be handled safely.  ``registry`` maps absolute
    URIs to pre-registered external schemas (the interp's lazy
    registry, core.py _resolve_ref) — statically known, so their
    resources inline exactly like embedded bundles."""
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
        self.registry = registry or {}
        self.uri_dirs = uri_dirs or {}
        self.unroll = max(0, unroll)
        self.meld = _ge(draft, D2019)
        self.id_key = "id" if draft in (DRAFT3, DRAFT4) else "$id"
        # URI registry mirroring the interpreter's _Index (core.py):
        # resources by resolved URI; anchors/dyn anchors by
        # (resource URI, name); per-node effective base URI
        root_base = ""
        idv = root.get(self.id_key)
        if isinstance(idv, str) and idv and not idv.startswith("#"):
            root_base = split_fragment(idv)[0]
        self.root_uri = root_base
        self.resources: dict[str, object] = {root_base: root}
        self.anchors: dict[tuple, object] = {}
        self.dyn_anchors: dict[tuple, object] = {}
        self.rec_anchor_roots: set[str] = set()
        self.node_base: dict[int, str] = {}
        # anchors registered by hard assignment ($anchor / fragment-$id)
        # vs dyn setdefault — a hard registration overrides a soft one
        # (assignment beats setdefault in _Index.index regardless of
        # walk order), two conflicting registrations of the same kind
        # make the name ambiguous and any USE of it a GiveUp
        self._hard: set[tuple] = set()
        self.ambiguous: set[tuple] = set()
        self.dyn_ambiguous: set[tuple] = set()
        self.budget = _NODE_BUDGET
        # dict nodes the feasibility scan has covered (by identity);
        # pointer targets outside known schema positions get a late scan
        self._visited: set[int] = set()
        self._scan(root, root_base, top=True)

    # -- pre-scan: feasibility + URI registry ---------------------------

    def _scan(self, node, base: str, top=False, register=True):
        """Walk schema positions registering $id/$anchor/$dynamicAnchor
        exactly like the interp's _Index.index; abort on what cannot be
        reproduced statically.

        ``register=False`` for the LATE scan of a pointer target outside
        known schema positions: the interp's _Index never walks such
        subtrees (core.py _iter_subschemas), so anchors found there are
        unregistered/inert in the interp and must stay unregistered
        here too; a base-URI-changing $id there would be inert in the
        interp (inner refs resolve against the document root) — a
        resolution this transform does not reproduce, so GiveUp."""
        if isinstance(node, list):
            for x in node:
                self._scan(x, base, register=register)
            return
        if not isinstance(node, dict):
            return
        self._visited.add(id(node))
        r = node.get("$ref")
        if r is not None and not isinstance(r, str):
            raise _GiveUp("non-string $ref")
        if not top:
            sv = node.get("$schema")
            if isinstance(sv, str) \
                    and draft_of({"$schema": sv}, self.draft) != self.draft:
                raise _GiveUp("mid-schema draft switch")
        new_base = base
        idv = node.get(self.id_key)
        if isinstance(idv, str) and idv:
            resolved = resolve_uri(base, idv) if base else idv
            root_part, frag = split_fragment(resolved)
            if frag:
                # fragment-carrying id acts as an anchor under the
                # PARENT base (draft<=7 idiom; _Index.index)
                if register:
                    self._reg_anchor(base, frag, node, hard=True)
                if root_part and root_part != split_fragment(base)[0]:
                    if not register:
                        raise _GiveUp("base-URI change in unscanned subtree")
                    new_base = root_part
                    self._reg_resource(root_part, node)
            elif root_part != base or top:
                if root_part != base:
                    if not register:
                        raise _GiveUp("base-URI change in unscanned subtree")
                    new_base = root_part
                    self._reg_resource(root_part, node)
        if register:
            self.node_base[id(node)] = new_base
        av = node.get("$anchor")
        if isinstance(av, str) and register:
            # unconditional across drafts, mirroring _Index.index
            self._reg_anchor(new_base, av, node, hard=True)
        da = node.get("$dynamicAnchor")
        if isinstance(da, str) and register:
            key = (new_base, da)
            if key in self.dyn_anchors:
                if self.dyn_anchors[key] is not node:
                    self.dyn_ambiguous.add(key)
            else:
                self.dyn_anchors[key] = node
                # a $dynamicAnchor also answers plain-$ref lookups
                # unless a hard anchor claims the name (setdefault)
                self._reg_anchor(new_base, da, node, hard=False)
        if node.get("$recursiveAnchor") is True \
                and self.resources.get(new_base) is node and register:
            self.rec_anchor_roots.add(new_base)
        # structural walk mirrors the transform's schema positions
        for k in _SINGLE_SCHEMA_KEYS:
            if k in node:
                self._scan(node[k], new_base, register=register)
        for k in _MAP_SCHEMA_KEYS:
            v = node.get(k)
            if isinstance(v, dict):
                for s in v.values():
                    self._scan(s, new_base, register=register)
        for k in _LIST_SCHEMA_KEYS:
            v = node.get(k)
            if isinstance(v, list):
                for s in v:
                    self._scan(s, new_base, register=register)
        items = node.get("items")
        if isinstance(items, list):
            for s in items:
                self._scan(s, new_base, register=register)
        else:
            self._scan(items, new_base, register=register)
        ext = node.get("extends")
        if isinstance(ext, list):
            for s in ext:
                self._scan(s, new_base, register=register)
        elif ext is not None:
            self._scan(ext, new_base, register=register)
        deps = node.get("dependencies")
        if isinstance(deps, dict):
            for v in deps.values():
                if isinstance(v, (dict, bool)):
                    self._scan(v, new_base, register=register)
        pd = node.get("propertyDependencies")
        if isinstance(pd, dict):
            for m in pd.values():
                if isinstance(m, dict):
                    for s in m.values():
                        self._scan(s, new_base, register=register)

    def _reg_resource(self, uri: str, node):
        cur = self.resources.get(uri)
        if cur is None:
            self.resources[uri] = node
        elif cur is not node:
            # the interp's setdefault makes this walk-order-dependent;
            # stay conservative
            raise _GiveUp(f"duplicate resource URI {uri!r}")

    def _reg_anchor(self, uri: str, name: str, node, hard: bool):
        key = (uri, name)
        cur = self.anchors.get(key)
        if cur is None:
            self.anchors[key] = node
            if hard:
                self._hard.add(key)
            return
        if cur is node:
            if hard:
                self._hard.add(key)
            return
        if hard and key not in self._hard:
            # hard assignment beats an earlier dyn setdefault
            self.anchors[key] = node
            self._hard.add(key)
            return
        if not hard and key in self._hard:
            return  # setdefault after assignment: no-op
        self.ambiguous.add(key)

    def _ref_active(self, keyword: str) -> bool:
        """Is this ref-family keyword active in the compile draft?
        (core.py _KEYWORDS: $recursiveRef only in 2019-09, $dynamicRef
        in 2020-12/next; plain $ref everywhere.)"""
        if keyword == "$recursiveRef":
            return self.draft == D2019
        if keyword == "$dynamicRef":
            return self.draft in (D2020, DNEXT)
        return True

    # -- resolution -----------------------------------------------------

    def _anchor_node(self, key: tuple, table: dict, kind: str):
        if key in (self.ambiguous if table is self.anchors
                   else self.dyn_ambiguous):
            raise _GiveUp(f"ambiguous {kind} {key!r}")
        node = table.get(key)
        if node is None:
            raise _GiveUp(f"unresolvable {kind} {key!r}")
        return node

    def _resolve(self, ref: str, base: str):
        """Mirror core.py _resolve_ref restricted to in-document
        resources: -> (raw target node, cycle key)."""
        target = resolve_uri(base, ref) \
            if base or not ref.startswith("#") else ref
        root_part, frag = split_fragment(target)
        res = self.resources.get(root_part)
        if res is None:
            res = self._register_external(root_part)
        if res is None:
            raise _GiveUp(f"unresolvable resource {root_part!r}")
        if frag is None or frag == "":
            return res, f"res:{root_part}"
        if frag.startswith("/"):
            try:
                node = pointer_get(res, frag)
            except (KeyError, IndexError, ValueError):
                raise _GiveUp(f"unresolvable pointer {target!r}")
            # a pointer may land in a document position the feasibility
            # pre-scan never walked (under an unknown keyword, inside
            # enum/const data, ...).  Run the same scan late over the
            # target subtree so the guards hold there too, WITHOUT
            # registering anchors the interp would never index.
            if isinstance(node, dict) and id(node) not in self._visited:
                self._scan(node, root_part, register=False)
            return node, f"ptr:{root_part}#{frag}"
        node = self._anchor_node((root_part, frag), self.anchors, "anchor")
        return node, f"anchor:{root_part}#{frag}"

    def _register_external(self, uri: str):
        """Lazily admit an external schema as a resource, mirroring the
        interp's on-demand cascade in _resolve_ref: user registry ->
        uri_dirs file loading -> vendored draft meta-schemas.  Returns
        None when no source knows the URI."""
        reg = self.registry.get(uri)
        if reg is None and self.uri_dirs:
            reg = self._load_from_dirs(uri)
        if reg is None:
            from m3spark.schema.core import _SCHEMA_URI_TO_DRAFT
            if uri.rstrip("#") in _SCHEMA_URI_TO_DRAFT:
                from m3spark.schema.metaschemas import META_BY_DRAFT
                reg = META_BY_DRAFT.get(
                    _SCHEMA_URI_TO_DRAFT[uri.rstrip("#")])
                if reg is None:
                    # interp: unknown draft name -> True schema
                    self.resources[uri] = True
                    return True
        if reg is None:
            return None
        if isinstance(reg, bool):
            self.resources[uri] = reg
            return reg
        if not isinstance(reg, dict):
            raise _GiveUp(f"malformed registry entry {uri!r}")
        # the interp compiles the external under draft_of(reg, draft);
        # a different draft cannot share the single output tree
        if draft_of(reg, self.draft) != self.draft:
            raise _GiveUp(f"registry schema {uri!r} declares a "
                          f"different draft")
        self.resources[uri] = reg
        self._scan(reg, uri)
        return reg

    def _load_from_dirs(self, uri: str):
        """Mirror core.py _load_from_dirs: uri prefix -> directory map,
        '.json' appended when missing; None when unmapped/unreadable."""
        import json as _json
        import os.path as _p
        for prefix, directory in self.uri_dirs.items():
            b = prefix.rstrip("/")
            if uri == b or uri.startswith(b + "/"):
                rel = uri[len(b):].lstrip("/")
                path = _p.join(directory, rel) if rel else directory
                if not path.endswith(".json"):
                    path += ".json"
                try:
                    with open(path, encoding="utf-8") as f:
                        return _json.load(f)
                except (OSError, ValueError):
                    return None
        return None

    def _resolve_recursive(self, base: str, chain: tuple):
        """$recursiveRef '#' (core.py c_recursive_ref): outermost
        $recursiveAnchor:true resource root in the (static) scope
        chain; lexical resource root otherwise."""
        static_node = self.resources.get(base, self.root)
        static_dynamic = base in self.rec_anchor_roots or (
            isinstance(static_node, dict)
            and static_node.get("$recursiveAnchor") is True)
        if static_dynamic:
            for uri in chain:
                r = self.resources.get(uri)
                if isinstance(r, dict) \
                        and r.get("$recursiveAnchor") is True:
                    return r, f"rref:{uri}"
        return static_node, f"rref:{base}"

    def _resolve_dynamic(self, ref: str, base: str, chain: tuple):
        """$dynamicRef (core.py c_dynamic_ref) with the scope chain
        known statically: 2020-12 bookended, draft-next unbookended
        with plain-anchor static fallback."""
        target = resolve_uri(base, ref) \
            if base or not ref.startswith("#") else ref
        root_part, frag = split_fragment(target)
        bookend_required = self.draft == D2020
        is_dynamic = frag is not None and not frag.startswith("/") and (
            (root_part, frag) in self.dyn_anchors or not bookend_required)
        if not is_dynamic:
            return self._resolve(ref, base)
        if (root_part, frag) in self.dyn_ambiguous:
            raise _GiveUp(f"ambiguous dynamic anchor {frag!r}")
        for uri in chain:  # outermost-first
            if (uri, frag) in self.dyn_anchors:
                node = self._anchor_node((uri, frag), self.dyn_anchors,
                                         "dynamic anchor")
                return node, f"dyn:{uri}#{frag}"
        if (root_part, frag) in self.dyn_anchors:
            node = self._anchor_node((root_part, frag), self.dyn_anchors,
                                     "dynamic anchor")
            return node, f"dyn:{root_part}#{frag}"
        if (root_part, frag) in self.anchors:
            node = self._anchor_node((root_part, frag), self.anchors,
                                     "anchor")
            return node, f"anchor:{root_part}#{frag}"
        # the interp emits a per-row "no anchor in dynamic scope"
        # error here — leave that path to the interp
        raise _GiveUp(f"no anchor {frag!r} in dynamic scope")

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
        if isinstance(node, bool) or node is None:
            return node
        if not isinstance(node, dict):
            return node
        self._spend()
        # nodes outside indexed positions default to the document root
        # resource, mirroring _compile's node_base.get(..., root_uri)
        nb = self.node_base.get(id(node), self.root_uri)
        if nb != chain[-1]:
            chain = chain + (nb,)
        r = node.get("$ref")
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
        if isinstance(rr, str) and self._ref_active("$recursiveRef"):
            had_ref = True
            if rr == "#":
                target, key = self._resolve_recursive(nb, chain)
            else:
                # non-'#' values fall back to plain-$ref semantics
                # (core.py c_recursive_ref)
                target, key = self._resolve(rr, nb)
            branches.append(self._expand(target, key, rr, stack, chain))
        dr = node.get("$dynamicRef")
        if isinstance(dr, str) and self._ref_active("$dynamicRef"):
            had_ref = True
            branches.append(self._expand(
                *self._resolve_dynamic(dr, nb, chain), dr, stack, chain))
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
                    (not self._ref_active(k) or not isinstance(v, str)):
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
                # here (_scan gives up on it).
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

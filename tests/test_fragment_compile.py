"""ColumnarValidator compiles every subschema fragment through one
helper (``_sub_checks``): a fragment never re-runs the root's
meta-validation, and no other code in the compiler builds a
validator."""

from __future__ import annotations

import ast
import pathlib

import pytest

import m3spark.columnar.compiler as compiler
from m3spark.columnar import ColumnarValidator, UnsupportedKeyword

ROOT = pathlib.Path(__file__).resolve().parent.parent

# nested properties, every in-place applicator, items and unevaluated*:
# each of them compiles at least one fragment
NESTED_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "properties": {
        "obj": {
            "properties": {"a": {"type": "string", "minLength": 1},
                           "b": {"not": {"type": "null"}}},
            "allOf": [{"required": ["a"]}],
            "anyOf": [{"properties": {"a": {"maxLength": 9}}}, {}],
            "unevaluatedProperties": {"type": "integer"},
        },
        "xs": {"items": {"minimum": 0}},
        "ys": {"prefixItems": [{"type": "integer"}],
               "unevaluatedItems": {"maximum": 9}},
        "s": {"not": {"pattern": "^z"}},
    },
    "anyOf": [{"required": ["obj"]}, {"required": ["xs"]}],
    "not": {"required": ["bad"]},
}


def test_meta_validation_runs_once_per_validator(monkeypatch):
    calls = []
    real = compiler.meta_validate_schema

    def counting(schema, *args, **kwargs):
        calls.append(schema)
        return real(schema, *args, **kwargs)

    monkeypatch.setattr(compiler, "meta_validate_schema", counting)
    cv = ColumnarValidator(NESTED_SCHEMA)
    assert calls == [NESTED_SCHEMA]
    # the schema really compiles fragments (nested and branch checks)
    paths = {c.schema_path for c in cv.checks}
    assert "/properties/obj/properties/b/not" in paths
    assert "/properties/obj/allOf/0/required" in paths
    assert "/properties/obj/unevaluatedProperties" in paths
    assert "/properties/xs/items" in paths
    assert "/properties/ys/unevaluatedItems" in paths
    assert {"/anyOf", "/not"} <= paths


class _Constructions(ast.NodeVisitor):
    """(innermost enclosing function, line) of every call of ``cls`` or
    of ``cls.__new__``."""

    def __init__(self, cls: str):
        self.cls, self.stack, self.sites = cls, ["<module>"], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    def visit_Call(self, node):
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr == "__new__":
            f = f.value
        if isinstance(f, ast.Name) and f.id == self.cls:
            self.sites.append((self.stack[-1], node.lineno))
        self.generic_visit(node)


def test_compiler_builds_validators_only_in_sub_checks():
    path = ROOT / "m3spark" / "columnar" / "compiler.py"
    visitor = _Constructions("ColumnarValidator")
    visitor.visit(ast.parse(path.read_text()))
    assert [name for name, _ in visitor.sites] == ["_sub_checks"], \
        visitor.sites


REMOTE = {"$ref": "http://example.com/x.json"}


@pytest.mark.parametrize("schema, text", [
    ({"anyOf": [REMOTE, {"type": "object"}]}, "['/anyOf/0/$ref']"),
    ({"not": REMOTE}, "['/not/$ref']"),
    ({"if": REMOTE, "then": {}}, "['/if/$ref']"),
    (REMOTE, "['$ref']"),
], ids=["anyOf", "not", "if", "row"])
def test_unsupported_fragment_keys_join_their_path(schema, text):
    """A row fragment's unlowerable key is reported below the fragment's
    path, joined with a `/`; a key of the table row itself stays bare."""
    with pytest.raises(UnsupportedKeyword) as e:
        ColumnarValidator(schema)
    assert str(e.value) == (f"columnar compiler cannot lower: {text}; use "
                            f"m3spark.sparkval.validate_json for these")

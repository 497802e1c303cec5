"""Pure-Python parity tests: corpus replay + m3 regression fixtures.

Mirrors the reference's test strategy (SURVEY.md §5): suite-format groups
replayed through the compiled engine, plus the reference's own m3-tests
regression fixtures (loaded read-only from /root/reference when present).
"""

from __future__ import annotations

import json
import os

import pytest

from m3spark.schema import compile_schema

from corpus import CASES
from corpus2 import CASES2
from corpus3 import CASES3
from corpus4 import CASES4
from corpus5 import CASES5
from corpus6 import CASES6
from corpus7 import CASES7
from corpus_remote import CASES_REMOTE, remote_uri_dirs

ALL_CASES = CASES + CASES2 + CASES3 + CASES4 + CASES5 + CASES6 + CASES7

M3_TESTS_DIR = "/root/reference/test-resources/m3-tests"


def _case_id(case):
    draft, desc, _, _ = case
    return f"{draft}:{desc}"


@pytest.mark.parametrize("case", ALL_CASES, ids=_case_id)
def test_corpus_group(case):
    draft, desc, schema, tests = case
    cs = compile_schema(schema, draft=draft, format_assertion=True)
    for data, expected in tests:
        got = cs.is_valid(data)
        assert got == expected, (
            f"[{draft}] {desc}: data={data!r} expected valid={expected}, "
            f"got {got}: {[v.message for v in cs.validate(data).errors]}")


@pytest.mark.parametrize("case", CASES_REMOTE, ids=_case_id)
def test_remote_corpus_group(case):
    """Remote-reference families: same replay, served via uri_dirs."""
    draft, desc, schema, tests = case
    cs = compile_schema(schema, draft=draft, format_assertion=True,
                        uri_dirs=remote_uri_dirs())
    for data, expected in tests:
        got = cs.is_valid(data)
        assert got == expected, (
            f"[{draft}] {desc}: data={data!r} expected valid={expected}, "
            f"got {got}")


def _m3_fixture_groups():
    if not os.path.isdir(M3_TESTS_DIR):
        return []
    groups = []
    for fname in sorted(os.listdir(M3_TESTS_DIR)):
        if fname.endswith(".json"):
            with open(os.path.join(M3_TESTS_DIR, fname)) as f:
                for g in json.load(f):
                    groups.append((fname, g))
    return groups


M3_FIXTURE_GROUPS = _m3_fixture_groups()


# ids as a list: an ids callable is also called on the placeholder
# parameter of an empty parametrize (fixture dir absent) and fails
# collection of the whole module
@pytest.mark.parametrize(
    "fixture", M3_FIXTURE_GROUPS,
    ids=[f"{f[0]}:{f[1]['description'][:48]}" for f in M3_FIXTURE_GROUPS])
def test_m3_regression_fixture(fixture):
    _, group = fixture
    cs = compile_schema(group["schema"])
    for t in group["tests"]:
        got = cs.is_valid(t["data"])
        assert got == t["valid"], (
            f"{group['description']} :: {t['description']}: "
            f"expected {t['valid']}, got {got}")


def test_error_shape():
    """Violations carry (keyword, schema_path, doc_path, message) like the
    reference's error objects (m3: util.cljc:106-115)."""
    cs = compile_schema(
        {"properties": {"a": {"type": "integer", "minimum": 3}}})
    r = cs.validate({"a": 2})
    assert not r.valid
    (v,) = r.errors
    assert v.keyword == "minimum"
    assert v.schema_path == "/properties/a/minimum"
    assert v.doc_path == "/a"
    assert v.level == "error"


def test_warning_levels():
    """format in annotation mode (2019+ default) warns, doesn't fail
    (m3: property.cljc:682-700)."""
    cs = compile_schema({"format": "ipv4"}, draft="draft2020-12")
    r = cs.validate("999.0.0.1")
    assert r.valid and len(r.warnings) == 1
    # unknown format: warning, never error (m3: property.cljc:696-697)
    cs2 = compile_schema({"format": "no-such-format"}, format_assertion=True)
    r2 = cs2.validate("x")
    assert r2.valid and len(r2.warnings) == 1


def test_compile_once_validate_many():
    cs = compile_schema({"type": "integer"})
    assert [cs.is_valid(v) for v in (1, "a", 2.0, None)] == [
        True, False, True, False]

"""Snapshot of what the columnar compiler produces for the test corpus.

Every case of ``tests/corpus*.py`` is compiled with its own draft (and,
for ``corpus_remote``, with its ``uri_dirs`` file loader) as the
table-row schema itself, as ``{"properties": {"v": schema}}`` and, for
drafts 2019-09 and later, as the decoded content of a string column
``{"properties": {"v": {"contentMediaType": "application/json",
"contentSchema": schema}}}``.  The schemas that ``validate_pages`` and
the ``__spark_entry__`` queries run (``m3spark.pages.PAGES_SCHEMA`` and
the validation schemas of ``__spark_entry__``) are compiled too, each
over its own table shape, as a ``production/<name>`` key.  For each compiled
schema the snapshot records

- the checks as ``(column, keyword, schema_path, doc_path, message,
  level)`` tuples, with ``<row>`` for a check on the table row,
- the ``UnsupportedKeyword`` text (or another exception's type and text),
- ``str()`` of the Column trees ``ColumnarValidator._build_apply`` builds
  over each table shape in ``SHAPES`` (a production schema: over its
  own shape), with the parts that vary from run
  to run made stable: lambda variables are numbered per tree, a
  Python UDF's call site is dropped, and any other captured call stack's
  identity hash is masked.

The output is sorted, indented JSON, so two snapshots (say, of a parent
commit and of a change) compare with one ``diff``:

    python tools/compile_snapshot.py before.json      # in the parent
    python tools/compile_snapshot.py after.json       # in the change
    diff before.json after.json
"""

from __future__ import annotations

import argparse
import importlib
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

import __spark_entry__ as entry  # noqa: E402
from m3spark.columnar.compiler import (  # noqa: E402
    ColumnarValidator, UnsupportedKeyword,
)
from m3spark.pages import PAGES_SCHEMA  # noqa: E402
from m3spark.schema.core import D2019, _ge  # noqa: E402
from corpus_remote import remote_uri_dirs  # noqa: E402

CORPORA = [("corpus", "CASES"), ("corpus2", "CASES2"), ("corpus3", "CASES3"),
           ("corpus4", "CASES4"), ("corpus5", "CASES5"),
           ("corpus6", "CASES6"), ("corpus7", "CASES7"),
           ("corpus_remote", "CASES_REMOTE")]

# fixed table shapes (Spark DDL): scalar, array, struct, map and variant
# columns named "v" for the property and content forms; flat rows over
# commonly used property names for the row form
SHAPES = {
    "v_long": "v long",
    "v_double": "v double",
    "v_string": "v string",
    "v_array": "v array<long>",
    "v_struct": "v struct<a: long, b: string, foo: long, bar: string>",
    "v_map": "v map<string, long>",
    "v_variant": "v variant",
    "v_nested": "v struct<a: struct<b: long>, c: array<struct<d: string>>>",
    "flat": "a long, b string, foo long, bar string, baz array<long>",
    "flat_obj": "foo struct<bar: long>, a map<string, string>, x double",
}

_PAGES = "url string, warc_ts timestamp, html binary, text string, lang string"
# name -> (schema, table DDL, format_assertion[, moved columns]): each
# as its caller runs it.  "pages_light" is validate_pages' value scan:
# every check but the presence check of the null-only blob column html
# (ColumnarValidator.violation_scans), over the table without html.
PRODUCTION = {
    "pages": (PAGES_SCHEMA, _PAGES, True),
    "pages_light": (PAGES_SCHEMA, _PAGES.replace(" html binary,", ""),
                    True, ("html",)),
    "documents": (entry.DOCUMENTS_SCHEMA,
                  "doc_id long, text string, lang string, source string, "
                  "n_chars long", True),
    "lineitem": (entry.LINEITEM_SCHEMA,
                 "l_orderkey long, l_partkey long, l_suppkey long, "
                 "l_linenumber int, l_quantity double, "
                 "l_extendedprice double, l_discount double, l_tax double, "
                 "l_returnflag string, l_linestatus string, "
                 "l_shipdate timestamp, line_id string", True),
    "event_props": (entry.EVENT_PROPS_SCHEMA,
                    "event_id long, k int, d string", True),
    "ref_defs_orders": (entry.REF_DEFS_ORDERS_SCHEMA,
                        "o_orderkey long, o_custkey long, "
                        "o_orderstatus string, o_totalprice double, "
                        "o_orderdate timestamp, o_orderpriority string",
                        True),
    "content": (entry.CONTENT_SCHEMA, "doc_id long, payload string", None),
}

_LAMBDA_VAR = re.compile(r"\b([xy])_\d+\b")
_UDF_SITE = re.compile(r"Some\(\[Ljava\.lang\.StackTraceElement;@\w+\),"
                       r"Some\(\(\w+,[^)]*\)\)")
# any other captured call stack prints as an identity hash
_STACK_ID = re.compile(r"StackTraceElement;@\w+")


def _stable(tree) -> str:
    names: dict = {}
    return _LAMBDA_VAR.sub(
        lambda m: names.setdefault(m.group(0), f"{m.group(1)}_{len(names)}"),
        _STACK_ID.sub("StackTraceElement;@<id>",
                      _UDF_SITE.sub("<call site>", str(tree))))


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"


def snapshot_one(schema, draft, frames, uri_dirs=None,
                 format_assertion=None, moved=()) -> dict:
    try:
        cv = ColumnarValidator(schema, draft=draft, uri_dirs=uri_dirs,
                               format_assertion=format_assertion)
    except UnsupportedKeyword as e:
        return {"unsupported": str(e)}
    except Exception as e:  # noqa: BLE001 - recorded, compared by text
        return {"error": _err(e)}
    checks = [c for c in cv.checks if c.presence not in moved]
    trees = {}
    for name, df in frames.items():
        try:
            added, viol, valid = cv._build_apply(df, "violations", checks)
            trees[name] = [_stable(c) for c in
                           [c for _, c in added] + [viol, valid]]
        except Exception as e:  # noqa: BLE001
            trees[name] = _err(e)
    return {"checks": [["<row>" if c.column == cv._ROW_CHECK else c.column,
                        c.keyword, c.schema_path, c.doc_path, c.message,
                        c.level] for c in checks],
            "trees": trees}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out", help="output JSON path")
    args = ap.parse_args()
    from m3spark.session import get_spark
    spark = get_spark("compile-snapshot", cores=2)
    spark.sparkContext.setLogLevel("ERROR")
    frames = {n: spark.createDataFrame([], ddl) for n, ddl in SHAPES.items()}
    snap = {}
    for name, (schema, ddl, fa, *moved) in PRODUCTION.items():
        snap[f"production/{name}"] = snapshot_one(
            schema, None, {name: spark.createDataFrame([], ddl)},
            format_assertion=fa, moved=moved[0] if moved else ())
    for mod, attr in CORPORA:
        cases = getattr(importlib.import_module(mod), attr)
        uri_dirs = remote_uri_dirs() if mod == "corpus_remote" else None
        for i, (draft, desc, schema, _tests) in enumerate(cases):
            forms = [("root", schema),
                     ("property", {"properties": {"v": schema}})]
            if _ge(draft, D2019):
                forms.append(("content", {"properties": {"v": {
                    "contentMediaType": "application/json",
                    "contentSchema": schema}}}))
            for form, s in forms:
                snap[f"{mod}/{i:04d}/{form}"] = dict(
                    snapshot_one(s, draft, frames, uri_dirs),
                    description=desc)
    with open(args.out, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True, default=repr)
        f.write("\n")
    n_ok = sum("checks" in v for v in snap.values())
    print(f"{len(snap)} schemas, {n_ok} compiled -> {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()

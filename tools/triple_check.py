"""Three-engine differential sweep over the hand-authored corpus
(Bowtie-style harness): every corpus assertion is replayed through

1. the Arrow/driver INTERPRETER (m3spark.schema.core) — always;
2. the COLUMNAR compiler (m3spark.columnar), where the (schema,
   instance) pair is representable as a typed Spark column — the
   instance becomes one column ``v`` and the schema wraps as
   ``{"properties": {"v": schema}}``;
3. a DUCKDB SQL mirror, where the schema is a scalar-keyword subset
   the generator can express over a typed value column (the same
   static-type specialization the driver oracles use).

Reports a three-way agreement matrix and appends it to COVERAGE.md
between the triple-check markers.  Eligibility is reported honestly —
an instance/schema outside an engine's representable set is counted as
ineligible, never as agreement.

Representation limits (excluded up front, with counts):
- instance ``None``: a NULL column means *missing*, JSON null means
  *present null* — a flat column cannot carry the difference;
- draft-3/4 integral floats (1.0): a typed column cannot distinguish
  1.0 from 1, but the old-draft strict integer rule must;
- ints beyond +/-2^63 (LongType overflow) and non-finite floats;
- for SQL: non-scalar instances; patterns outside the RE2-safe subset.

Usage:  python tools/triple_check.py [--limit N] [--no-coverage-update]
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

from m3spark.schema.core import (  # noqa: E402
    DRAFT3, DRAFT4, DRAFT6, D2019, _ge, compile_schema,
)

COVERAGE = ROOT / "COVERAGE.md"
MARK_BEGIN = "<!-- triple-check:begin -->"
MARK_END = "<!-- triple-check:end -->"

# ---------------------------------------------------------------------------
# instance typing


def _scalar_kind(v):
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int" if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        return "float" if v == v and abs(v) != float("inf") else None
    if isinstance(v, str):
        return "str"
    return None


def _columnar_kind(v):
    """Spark-representable kind for an instance, or None."""
    k = _scalar_kind(v)
    if k:
        return k
    if isinstance(v, list):
        kinds = {_scalar_kind(x) for x in v}
        if len(kinds) == 1 and None not in kinds:
            return f"arr_{kinds.pop()}"
        if not v:
            return "arr_str"  # empty array: element type irrelevant
        return None
    if isinstance(v, dict):
        if all(_scalar_kind(x) is not None for x in v.values()) \
                and all(isinstance(k, str) and k.isidentifier()
                        for k in v):
            return "obj"
        return None
    return None


def _old_draft_lossy(draft, data):
    """1.0 vs 1 cannot be told apart in a typed column, but strict
    draft-3/4 integer semantics depend on it."""
    if draft not in (DRAFT3, DRAFT4):
        return False

    def has_integral_float(x):
        if isinstance(x, bool):
            return False
        if isinstance(x, float):
            return x.is_integer()
        if isinstance(x, list):
            return any(has_integral_float(i) for i in x)
        if isinstance(x, dict):
            return any(has_integral_float(i) for i in x.values())
        return False
    return has_integral_float(data)


_SPARK_DDL = {"bool": "boolean", "int": "long", "float": "double",
              "str": "string", "arr_bool": "array<boolean>",
              "arr_int": "array<long>", "arr_float": "array<double>",
              "arr_str": "array<string>"}


# ---------------------------------------------------------------------------
# DuckDB mirror generator (scalar subset; static-type specialization)

SQL_KEYWORDS = {"type", "enum", "const", "minimum", "maximum",
                "exclusiveMinimum", "exclusiveMaximum", "multipleOf",
                "divisibleBy", "minLength", "maxLength", "pattern",
                "$schema", "title", "description", "$comment"}

_DUCK_T = {"bool": "BOOLEAN", "int": "BIGINT", "float": "DOUBLE",
           "str": "VARCHAR"}

_RE2_SAFE = re.compile(
    r"^[\w\s\^\$\.\*\+\?\|\[\]\(\)\{\}\,\-\:\;\/@#%&=<>!~'\"]*$")


def _sql_lit(v):
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _type_sql(t, kind, draft):
    if t == "string":
        return "TRUE" if kind == "str" else "FALSE"
    if t == "boolean":
        return "TRUE" if kind == "bool" else "FALSE"
    if t == "number":
        return "TRUE" if kind in ("int", "float") else "FALSE"
    if t == "integer":
        if kind == "int":
            return "TRUE"
        if kind == "float":
            return "v = floor(v)" if _ge(draft, DRAFT6) else "FALSE"
        return "FALSE"
    if t == "any":
        return "TRUE"
    return "FALSE"  # null/array/object never match a scalar column


def sql_mirror(schema, draft, kind):
    """SQL boolean expression over column ``v`` of duck type for
    ``kind``, or None if not expressible."""
    if schema is True or schema == {}:
        return "TRUE"
    if schema is False:
        return "FALSE"
    if not isinstance(schema, dict):
        return None
    if any(k not in SQL_KEYWORDS for k in schema):
        return None
    numeric = kind in ("int", "float")
    old = draft in (DRAFT3, DRAFT4)
    if old:
        # draft-3/4 boolean exclusive* REQUIRES its base keyword; the
        # engine meta-validates and fails every instance — outside the
        # mirror's scope
        for excl, base in (("exclusiveMinimum", "minimum"),
                           ("exclusiveMaximum", "maximum")):
            if isinstance(schema.get(excl), bool) and base not in schema:
                return None
    parts = []
    t = schema.get("type")
    if isinstance(t, str):
        parts.append(_type_sql(t, kind, draft))
    elif isinstance(t, list):
        if any(not isinstance(x, str) for x in t):
            return None  # draft-3 embedded schema member: out of scope
        opts = [_type_sql(x, kind, draft) for x in t]
        parts.append("(" + " OR ".join(opts) + ")" if opts else "FALSE")
    for kw, vals in (("enum", schema.get("enum")),
                     ("const", [schema["const"]]
                      if "const" in schema and _ge(draft, DRAFT6)
                      else None)):
        if not isinstance(vals, list):
            continue
        ok = []
        for x in vals:
            if isinstance(x, (int, float)) and not isinstance(x, bool) \
                    and abs(x) >= 2**53:
                # cross-representation equality at/beyond 2^53 needs
                # exact-rational semantics SQL IN can't give (this also
                # covers ints beyond the long range)
                return None
            xk = _scalar_kind(x)
            if xk is None:
                continue  # non-scalar literal can't equal a scalar col
            if (xk == kind or (numeric and xk in ("int", "float"))) \
                    and not (xk == "bool") != (kind == "bool"):
                ok.append(_sql_lit(x))
        parts.append(f"v IN ({', '.join(ok)})" if ok else "FALSE")
    for kw, op in (("minimum", ">="), ("maximum", "<=")):
        b = schema.get(kw)
        if isinstance(b, (int, float)) and not isinstance(b, bool):
            if not numeric:
                continue
            excl = old and schema.get(
                "exclusiveMinimum" if kw == "minimum"
                else "exclusiveMaximum") is True
            eff = {">=": ">", "<=": "<"}[op] if excl else op
            parts.append(f"v {eff} {_sql_lit(b)}")
    if not old:
        for kw, op in (("exclusiveMinimum", ">"),
                       ("exclusiveMaximum", "<")):
            b = schema.get(kw)
            if isinstance(b, (int, float)) and not isinstance(b, bool) \
                    and numeric:
                parts.append(f"v {op} {_sql_lit(b)}")
    mof = schema.get("divisibleBy" if draft == DRAFT3 else "multipleOf")
    if isinstance(mof, (int, float)) and not isinstance(mof, bool) \
            and numeric:
        if mof == 0:
            parts.append("FALSE")
        else:
            from decimal import Decimal as _D
            dt = _D(str(mof)).as_tuple()
            if -dt.exponent > 12 or len(dt.digits) > 26:
                # divisor granularity beyond DECIMAL(38,12): the SQL
                # modulo can't stay exact (same limit the columnar
                # compiler declares via UnsupportedKeyword)
                return None
            # Decimal(str(v)) semantics via the varchar round-trip; a
            # value needing >12 fractional digits can't be a multiple of
            # a <=12-digit divisor, so the decimal->double round-trip
            # guard (same as the columnar engine's small_ok) makes the
            # truncating cast exact-or-fail
            dec_v = "TRY_CAST(CAST(v AS VARCHAR) AS DECIMAL(38,12))"
            d = f"CAST({_sql_lit(str(mof))} AS DECIMAL(38,12))"
            parts.append(
                f"({dec_v} % {d} = 0"
                f" AND CAST({dec_v} AS DOUBLE) = CAST(v AS DOUBLE))")
    for kw, op in (("minLength", ">="), ("maxLength", "<=")):
        n = schema.get(kw)
        if isinstance(n, (int, float)) and not isinstance(n, bool) \
                and float(n).is_integer() and kind == "str":
            parts.append(f"length(v) {op} {int(n)}")
    pat = schema.get("pattern")
    if isinstance(pat, str) and kind == "str":
        if not _RE2_SAFE.match(pat) or "(?" in pat:
            return None  # ECMA construct outside the RE2-safe subset
        parts.append(f"regexp_matches(v, {_sql_lit(pat)})")
    if not parts:
        return "TRUE"
    return "(" + " AND ".join(parts) + ")"


# ---------------------------------------------------------------------------


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=None,
                    help="only the first N corpus groups (debug)")
    ap.add_argument("--no-coverage-update", action="store_true")
    args = ap.parse_args(argv)

    from corpus import CASES
    from corpus2 import CASES2
    from corpus3 import CASES3
    from corpus4 import CASES4
    from corpus5 import CASES5
    from corpus6 import CASES6
    from corpus7 import CASES7
    from corpus_remote import CASES_REMOTE, remote_uri_dirs
    all_cases = [(c, {}) for c in
                 CASES + CASES2 + CASES3 + CASES4 + CASES5 + CASES6
                 + CASES7]
    # remote families: both engines resolve the same tests/remotes
    # files through the uri_dirs loader (r6: the inliner's external
    # cascade makes these columnar-eligible too)
    all_cases += [(c, {"uri_dirs": remote_uri_dirs()})
                  for c in CASES_REMOTE]
    if args.limit:
        all_cases = all_cases[:args.limit]

    import duckdb
    from pyspark.sql import types as T

    from m3spark.columnar import ColumnarValidator, UnsupportedKeyword
    from m3spark.session import get_spark

    spark = get_spark("triple-check", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()

    stats = {
        "groups": 0, "assertions": 0,
        "interp_expected_agree": 0,
        "col_eligible": 0, "col_agree": 0,
        "sql_eligible": 0, "sql_agree": 0,
        "threeway_eligible": 0, "threeway_agree": 0,
        "skipped_null_instance": 0, "skipped_unrepresentable": 0,
        "skipped_old_draft_lossy": 0,
    }
    disagreements = []

    for (draft, desc, schema, tests), opts in all_cases:
        stats["groups"] += 1
        interp = compile_schema(schema, draft=draft, format_assertion=True,
                                **opts)

        # columnar: group eligible instances by representable kind
        groups: dict[str, list[tuple[int, object]]] = {}
        per_idx_interp = {}
        for idx, (data, expected) in enumerate(tests):
            stats["assertions"] += 1
            iv = bool(interp.is_valid(data))
            per_idx_interp[idx] = iv
            if iv == expected:
                stats["interp_expected_agree"] += 1
            if data is None:
                stats["skipped_null_instance"] += 1
                continue
            if _old_draft_lossy(draft, data):
                stats["skipped_old_draft_lossy"] += 1
                continue
            kind = _columnar_kind(data)
            if kind is None or kind == "obj":
                # flat-object instances are covered by the tabular fuzz;
                # here we keep the sweep to scalar/array columns
                stats["skipped_unrepresentable"] += 1
                continue
            groups.setdefault(kind, []).append((idx, data))

        col_verdicts: dict[int, bool] = {}
        col_ok = True
        try:
            cv = ColumnarValidator({"properties": {"v": schema}},
                                   draft=draft, format_assertion=True,
                                   **opts)
        except UnsupportedKeyword:
            col_ok = False
        except Exception as exc:  # noqa: BLE001
            col_ok = False
            disagreements.append(
                {"draft": draft, "desc": desc, "engine": "columnar",
                 "error": f"compile crash {type(exc).__name__}: {exc}"})
        if col_ok:
            for kind, items in groups.items():
                ddl = f"i int, v {_SPARK_DDL[kind]}"
                rows = [(i, d if kind != "float" else float(d))
                        for i, d in items]
                if kind == "int":
                    rows = [(i, int(d)) for i, d in items]
                try:
                    df = spark.createDataFrame(rows, ddl)
                    out = {r["i"]: bool(r["valid"])
                           for r in cv.apply(df).select("i", "valid")
                                      .collect()}
                except Exception as exc:  # noqa: BLE001
                    disagreements.append(
                        {"draft": draft, "desc": desc,
                         "engine": "columnar", "kind": kind,
                         "error": f"{type(exc).__name__}: {exc}"})
                    continue
                col_verdicts.update(out)

        # duckdb mirror per scalar kind
        sql_verdicts: dict[int, bool] = {}
        for kind, items in groups.items():
            if kind not in _DUCK_T:
                continue
            mirror = sql_mirror(schema, draft, kind)
            if mirror is None:
                continue
            # feed instances through a registered DataFrame: VALUES
            # literals would infer DECIMAL (and DuckDB 1.0 constant-
            # folds casts through the pre-cast literal type), while a
            # float64/int64 column carries true JSON number semantics
            import pandas as _pd
            _dtype = {"float": "float64", "int": "int64",
                      "bool": "bool", "str": "object"}[kind]
            frame = _pd.DataFrame(
                {"i": [i for i, _ in items],
                 "v": _pd.Series([d for _, d in items], dtype=_dtype)})
            q = f"SELECT i, {mirror} AS ok FROM frame"
            try:
                con.register("frame", frame)
                for i, ok in con.sql(q).fetchall():
                    sql_verdicts[i] = bool(ok)
            except Exception as exc:  # noqa: BLE001
                disagreements.append(
                    {"draft": draft, "desc": desc, "engine": "duckdb",
                     "error": f"{type(exc).__name__}: {exc}",
                     "sql": q[:200]})

        for idx in sorted(per_idx_interp):
            iv = per_idx_interp[idx]
            has_c = idx in col_verdicts
            has_s = idx in sql_verdicts
            if has_c:
                stats["col_eligible"] += 1
                if col_verdicts[idx] == iv:
                    stats["col_agree"] += 1
                else:
                    disagreements.append(
                        {"draft": draft, "desc": desc, "idx": idx,
                         "interp": iv, "columnar": col_verdicts[idx],
                         "data": repr(tests[idx][0])[:80]})
            if has_s:
                stats["sql_eligible"] += 1
                if sql_verdicts[idx] == iv:
                    stats["sql_agree"] += 1
                else:
                    disagreements.append(
                        {"draft": draft, "desc": desc, "idx": idx,
                         "interp": iv, "duckdb": sql_verdicts[idx],
                         "data": repr(tests[idx][0])[:80]})
            if has_c and has_s:
                stats["threeway_eligible"] += 1
                if col_verdicts[idx] == iv == sql_verdicts[idx]:
                    stats["threeway_agree"] += 1

    spark.stop()
    result = {**stats, "disagreement_count": len(disagreements),
              "disagreements": disagreements[:40]}
    print(json.dumps(result, indent=2))

    if not args.no_coverage_update and not args.limit:
        _update_coverage(stats, len(disagreements))
    return 1 if disagreements else 0


def _update_coverage(s, n_dis):
    block = "\n".join([
        MARK_BEGIN,
        "",
        "### Three-engine differential sweep (tools/triple_check.py)",
        "",
        "Every corpus assertion replayed through the interpreter, the",
        "columnar compiler (instance as a typed column), and a DuckDB",
        "SQL mirror (scalar-keyword subset, static-type specialized),",
        "Bowtie-style.  Eligibility is engine representability —",
        "ineligible is never counted as agreement.",
        "",
        "| metric | count |",
        "|---|---|",
        f"| corpus groups | {s['groups']} |",
        f"| assertions (interp, all) | {s['assertions']} |",
        f"| interp == corpus-expected | {s['interp_expected_agree']} |",
        f"| columnar-eligible | {s['col_eligible']} |",
        f"| columnar == interp | {s['col_agree']} |",
        f"| duckdb-eligible | {s['sql_eligible']} |",
        f"| duckdb == interp | {s['sql_agree']} |",
        f"| three-way eligible | {s['threeway_eligible']} |",
        f"| three-way agree | {s['threeway_agree']} |",
        f"| disagreements | {n_dis} |",
        "",
        "Ineligible-by-design: JSON-null instances"
        f" ({s['skipped_null_instance']}; a NULL column means missing,"
        " not present-null), draft-3/4 integral floats"
        f" ({s['skipped_old_draft_lossy']}; 1.0 vs 1 indistinguishable"
        " in a typed column), non-scalar/heterogeneous instances"
        f" ({s['skipped_unrepresentable']}; flat-object shapes are"
        " covered by the tabular fuzz in test_compile_stress.py).",
        "",
        MARK_END,
    ])
    with open(COVERAGE) as f:
        text = f.read()
    if MARK_BEGIN in text:
        pre = text.split(MARK_BEGIN)[0]
        post = text.split(MARK_END)[1]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(COVERAGE, "w") as f:
        f.write(text)


if __name__ == "__main__":
    sys.exit(main())

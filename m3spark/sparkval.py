"""Arrow-batched JSON-document validation over Spark DataFrames.

The generality path: for arbitrarily nested JSON documents kept as a
string column, the driver compiles the schema once
(:func:`m3spark.schema.compile_schema`) and executors re-hydrate the
compiled closure tree **once per worker** (module-level cache keyed by
the schema JSON) — the reference's compile-once/validate-many contract
(m3: src/cljc/m3/validate.cljc:405-408 memoized compile;
json_schema.cljc:165-189 ``validator``) lifted to the cluster.

Data crosses the JVM/Python boundary in Arrow batches via
``mapInPandas`` / ``pandas_udf`` — never row-at-a-time py4j.  For flat,
typed tables use :mod:`m3spark.columnar` instead (pure JVM expressions,
no Python in the hot loop).
"""

from __future__ import annotations

import json
import logging
from functools import lru_cache
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, StringType, StructField, StructType,
)

from m3spark.memo import expr_memo

_log = logging.getLogger(__name__)

VIOLATION_SCHEMA = StructType([
    StructField("keyword", StringType()),
    StructField("schema_path", StringType()),
    StructField("doc_path", StringType()),
    StructField("message", StringType()),
    StructField("level", StringType()),
    StructField("value", StringType()),  # offending instance (truncated)
])

VIOLATIONS_TYPE = ArrayType(VIOLATION_SCHEMA)


@lru_cache(maxsize=64)
def _compiled(schema_json: str, draft: str | None,
              format_assertion: bool | None,
              registry_json: str | None = None,
              uri_dirs_json: str | None = None):
    # executed once per executor worker process per schema
    from m3spark.schema import compile_schema  # noqa: PLC0415

    return compile_schema(json.loads(schema_json), draft=draft,
                          format_assertion=format_assertion,
                          registry=(json.loads(registry_json)
                                    if registry_json else None),
                          uri_dirs=(json.loads(uri_dirs_json)
                                    if uri_dirs_json else None))


def _validate_series(s: pd.Series, schema_json: str, draft, fmt_assert,
                     registry_json: str | None = None,
                     uri_dirs_json: str | None = None):
    cs = _compiled(schema_json, draft, fmt_assert, registry_json,
                   uri_dirs_json)
    out_valid = []
    out_viol = []
    for doc in s:
        if doc is None:
            out_valid.append(None)
            out_viol.append(None)
            continue
        try:
            value = json.loads(doc)
        except ValueError as e:
            out_valid.append(False)
            out_viol.append([{"keyword": "$decode", "schema_path": "",
                              "doc_path": "", "message": f"bad JSON: {e}",
                              "level": "error",
                              "value": str(doc)[:128]}])
            continue
        rt_errs = cs.validate(value)
        errs = rt_errs.errors + rt_errs.warnings + rt_errs.infos
        out_valid.append(rt_errs.valid)
        out_viol.append([
            {"keyword": v.keyword, "schema_path": v.schema_path,
             "doc_path": v.doc_path, "message": v.message, "level": v.level,
             "value": v.value}
            for v in errs] if errs else [])
    return out_valid, out_viol


def validate_json(df: DataFrame, schema: dict | bool, doc_col: str = "doc",
                  draft: str | None = None,
                  format_assertion: bool | None = None,
                  out_valid: str = "valid",
                  out_violations: str = "violations",
                  registry: dict | None = None,
                  uri_dirs: dict | None = None) -> DataFrame:
    """Append ``valid:boolean`` and ``violations:array<struct>`` columns
    computed by the vectorized schema interpreter.

    Uses ``mapInPandas`` so one Arrow batch crosses the boundary per
    ~10k rows (spark.sql.execution.arrow.maxRecordsPerBatch), preserving
    all input columns without a join.
    """
    schema_json = json.dumps(schema, sort_keys=True)
    registry_json = (json.dumps(registry, sort_keys=True)
                     if registry else None)
    # uri_dirs paths must be readable from executor workers (shared
    # storage on a real cluster), same constraint as the interp's
    uri_dirs_json = (json.dumps(uri_dirs, sort_keys=True)
                     if uri_dirs else None)
    in_schema = df.schema
    out_schema = StructType(list(in_schema.fields) + [
        StructField(out_valid, BooleanType()),
        StructField(out_violations, VIOLATIONS_TYPE),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            valid, viol = _validate_series(
                pdf[doc_col], schema_json, draft, format_assertion,
                registry_json, uri_dirs_json)
            pdf = pdf.copy()
            pdf[out_valid] = pd.Series(valid, index=pdf.index, dtype="object")
            pdf[out_violations] = pd.Series(viol, index=pdf.index, dtype="object")
            yield pdf

    return df.mapInPandas(run, out_schema)


def validate_table(df: DataFrame, schema: dict | bool,
                   draft: str | None = None,
                   format_assertion: bool | None = None,
                   out_valid: str = "valid",
                   out_violations: str = "violations",
                   registry: dict | None = None,
                   uri_dirs: dict | None = None) -> DataFrame:
    """One-call engine selection over a TYPED table: compile columnar
    (pure-JVM Column predicates) when the schema lowers, otherwise fall
    back to the Arrow interpreter by rendering each row as a JSON
    document (``to_json`` omits NULL fields — the engine-wide
    "NULL column = absent property" convention).

    The fallback triggers at COMPILE time (external/dynamic refs,
    non-productive cycles, any unlowerable keyword) and at PLAN-BUILD
    time (recursive ``$ref`` over a table whose column types nest
    deeper than the inline unroll — compiler.py UNROLL_GUARD_KEY).
    Bound: the interp route sees non-JSON-native column types the way
    ``to_json`` renders them (binary -> base64 string, timestamps ->
    ISO strings), so prefer the columnar route — which handles them
    natively — for schemas that lower."""
    from m3spark.columnar import ColumnarValidator, UnsupportedKeyword

    try:
        cv = ColumnarValidator(schema, draft=draft,
                               format_assertion=format_assertion,
                               registry=registry, uri_dirs=uri_dirs)
        return cv.apply(df, out_valid=out_valid,
                        out_violations=out_violations)
    except UnsupportedKeyword as e:
        _log.info("validate_table falls back to the Arrow interpreter: %s",
                  e)
    doc = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    out = validate_json(df.withColumn("_m3_doc", doc), schema,
                        doc_col="_m3_doc", draft=draft,
                        format_assertion=format_assertion,
                        out_valid=out_valid,
                        out_violations=out_violations,
                        registry=registry, uri_dirs=uri_dirs)
    return out.drop("_m3_doc")


def violation_rows(df: DataFrame, key_col: str | list[str] = "url",
                   violations_col: str = "violations") -> DataFrame:
    """Explode an array-of-violations column into the north-star
    violation table: the carried ``key_col`` column(s), then keyword,
    json-pointer paths, message, level and the offending value."""
    keys = (key_col,) if isinstance(key_col, str) else tuple(key_col)

    def build():
        carried = [F.col(k) for k in keys]
        return ([*carried, F.explode(F.col(violations_col)).alias("v")],
                [*carried,
                 F.col("v.keyword").alias("keyword"),
                 F.col("v.schema_path").alias("schema_path"),
                 F.col("v.doc_path").alias("doc_path"),
                 F.col("v.message").alias("message"),
                 F.col("v.level").alias("level"),
                 F.col("v.value").alias("value")])

    # expression memo (m3spark.memo): the Columns do not depend on the
    # input's dtypes
    explode, fields = expr_memo(("violation_rows", violations_col), (),
                                keys, build)
    return df.select(*explode).select(*fields)

"""End-to-end page-validation pipeline: the engine's flagship job.

compile(schema) → columnar predicates → per-row violations → per-partition
pass/fail verdicts + exploded violation table + uniqueness, sharing one
validated scan (SURVEY.md §3 "Spark lifecycle").

The violation/verdict/uniqueness jobs are derived from a SLIM projection
(key, partition key, valid, violations) so a persisted intermediate
carries ~1% of the bytes of the full pages row (html stays out of cache
and out of every shuffle — at 100 TB the binary column must never move
past the first Project)."""

from __future__ import annotations

import copy
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3spark.columnar import ColumnarValidator
from m3spark.memo import expr_memo
from m3spark.pages import PAGES_SCHEMA
from m3spark.sparkval import violation_rows


def _heavy_null_only_cols(schema: dict, pages: DataFrame, key_col: str,
                          partition_expr: str) -> list[str]:
    """Binary columns whose ONLY constraint is top-level ``required`` —
    i.e. the validator needs nothing but their NULLness.  Reading a blob
    column to answer ``IS NOT NULL`` is the single largest scan cost of
    the flagship job (the html bytes are >half the table), and parquet
    row-group ``null_count`` statistics answer ``IS NULL`` without
    touching the data pages.  Conservative structural gate: only plain
    object schemas (type/required/properties and annotations), only
    columns not referenced by properties, the key, or the partition
    expression, and only binary payloads (pruning a cheap string column
    is not worth the second scan)."""
    if set(schema) - {"$schema", "$id", "type", "required", "properties"}:
        return []
    if schema.get("type") not in (None, "object"):
        return []
    req = schema.get("required")
    if (not isinstance(req, list)
            or not all(isinstance(r, str) for r in req)
            or any(r not in pages.columns for r in req)):
        return []
    props = schema.get("properties") or {}
    dtypes = dict(pages.dtypes)
    return [c for c in req
            if c not in props and c != key_col
            and c not in partition_expr
            and dtypes.get(c) == "binary"]


def validate_pages(pages: DataFrame, schema: dict | None = None,
                   key_col: str = "url",
                   partition_expr: str = "to_date(warc_ts)",
                   with_uniqueness: bool = True,
                   format_assertion: bool = True,
                   persist: bool = False) -> dict:
    """Run the full validation over a pages table.

    Returns a dict of lazy DataFrames plus the validator:
      - ``rows``: input + violations + valid (full width)
      - ``slim``: (key, partition_key, valid, violations) of the rows
        that carry a violation — the shared core of the downstream jobs
      - ``slim_heavy``: (key, partition_key, hviols, other_err) of the
        rows whose heavy columns (see ``_heavy_null_only_cols``) are
        null, or None when the schema has no heavy column
      - ``violations``: exploded north-star violation table
      - ``partition_verdicts``: per-partition pass/fail + counts
      - ``validator``: the ``ColumnarValidator`` behind ``rows``

    With ``persist=True``, ``slim`` is persisted, and it is the only
    relation the caller releases (``res["slim"].unpersist()``)."""
    schema = schema or PAGES_SCHEMA
    cv, cv_light, heavy, ex = _plan(schema, pages, key_col, partition_expr,
                                    format_assertion)
    rows = cv.apply(pages)

    # r8: persist only the VIOLATING rows.  The r7 shape cached the full
    # slim projection (key, partition_key, valid, violations) — at 10M
    # rows the in-memory columnar cache build alone cost ~35% of the
    # flagship job, yet every downstream consumer except the
    # rows_scanned total only ever looks at rows that carry a
    # violation (~3% with the planted anomaly rates).  rows_scanned now
    # comes from a column-pruned count over the raw input (reads just
    # the partition column), left-joined to the per-partition violation
    # aggregate.  The violating rows are found by ONE Filter pass that
    # evaluates each check predicate once (violation_prefilter) — the
    # per-row violation-struct assembly then runs only on the ~3%
    # survivors.  A row with an empty violations array is always valid
    # (valid := no error-level violations), so the filter loses
    # nothing.
    #
    # r8b: blob columns whose only constraint is `required` never enter
    # the value scan at all.  The html payload is >half the table's
    # bytes, yet the validator only needs `html IS NOT NULL`; so the
    # value checks run over pages.drop(html) (ReadSchema excludes the
    # blob), and the required-on-html violations come from a separate
    # `WHERE html IS NULL` scan whose pushed IsNull filter skips every
    # row group with null_count == 0 — a footer-only read on clean
    # data.  The heavy scan runs cv.apply with the FULL schema, so the
    # violation structs for heavy-null rows (including the to_json row
    # render) are bit-identical to the single-scan path.  Verdict
    # arithmetic composes without overlap: the value scan counts rows
    # with value-check errors (it still sees heavy-null rows — their
    # other columns are intact), the heavy scan adds only heavy-null
    # rows with NO value-check error.  One documented render nuance:
    # a required violation on a NON-heavy column (a null url/ts/text)
    # renders its row-document `value` from the pruned projection, so
    # the heavy field's base64 no longer appears in that truncated
    # debug string (identical whenever the heavy column is itself
    # null, since to_json omits nulls).
    light = pages.drop(*heavy) if heavy else pages
    try:
        bad = cv_light.violation_prefilter(light)
        prefiltered = True
    except ValueError:
        bad = light
        prefiltered = False
    slim = cv_light.apply(bad).select(
        F.col(key_col), ex["pk"], "valid", "violations")
    if not prefiltered:
        # the prefilter predicate is exactly OR(~ok_i) == "violations
        # non-empty", so when it ran this filter is redundant — and far
        # from free: predicate pushdown substitutes the whole
        # violations expression into the pushed filter, re-evaluating
        # every check and struct per row below the projection
        slim = slim.where(F.size("violations") > 0)
    if persist:
        slim = slim.persist()

    keys = [key_col, "partition_key"]
    viol = violation_rows(slim, keys)
    slim_heavy = None
    if heavy:
        # reuse the already-built full-apply tree (a second cv.apply
        # costs ~0.5 s of py4j expression construction per call); the
        # IsNull filter commutes with the row-wise projection and is
        # pushed below it into the parquet scan — footer-only on clean
        # data, so this relation is not persisted
        slim_heavy = (rows.where(ex["null_any"])
                          .select(*ex["heavy_select"])
                          .where(ex["hviols_nonempty"]))
        viol = viol.unionByName(violation_rows(slim_heavy, keys, "hviols"))
    if with_uniqueness:
        dups = (pages.groupBy(F.col(key_col))
                     .agg(ex["dup_count"])
                     .filter(F.col("dup_count") > 1))
        # a key duplicated ACROSS partitions has no single partition_key
        # (filled null by allowMissingColumns)
        viol = viol.unionByName(dups.select(*ex["dup_select"]),
                                allowMissingColumns=True)

    totals = pages.groupBy(ex["pk"]).agg(ex["rows_scanned"])
    viol_agg = slim.groupBy("partition_key").agg(*ex["viol_agg"])
    verdicts = (totals.join(viol_agg, "partition_key", "left")
                      .select(*ex["verdict_select"]))
    if slim_heavy is not None:
        # heavy-null rows add their required violations, and count as
        # newly-invalid only when the value scan saw no error for them
        # (no row is counted twice; error-level heavy violations only)
        hagg = slim_heavy.groupBy("partition_key").agg(*ex["hagg"])
        verdicts = (verdicts.join(hagg, "partition_key", "left")
                            .select(*ex["verdict_merge"]))
    verdicts = verdicts.withColumn("passed", ex["passed"])
    return {"rows": rows, "slim": slim, "slim_heavy": slim_heavy,
            "violations": viol, "partition_verdicts": verdicts,
            "validator": cv}


def _plan(schema: dict, pages: DataFrame, key_col: str,
          partition_expr: str, format_assertion: bool):
    """(full validator, value-scan validator, heavy columns, pipeline
    Column expressions) for ``validate_pages``.  Expression memo
    (m3spark.memo), expressions only: keyed on the SparkContext, the
    canonical schema JSON plus options and the ordered input dtypes."""
    def build():
        heavy = _heavy_null_only_cols(schema, pages, key_col, partition_expr)
        cv = cv_light = ColumnarValidator(schema,
                                          format_assertion=format_assertion)
        if heavy:
            lschema = copy.deepcopy(schema)
            lschema["required"] = [r for r in schema["required"]
                                   if r not in heavy]
            cv_light = ColumnarValidator(lschema,
                                         format_assertion=format_assertion)
        return (cv, cv_light, heavy,
                _pipe_exprs(key_col, partition_expr, heavy))

    try:
        owner = (json.dumps(schema, sort_keys=True), format_assertion,
                 key_col, partition_expr)
    except (TypeError, ValueError):
        return build()
    return expr_memo(owner, pages.dtypes, (), build)


def _pipe_exprs(key_col: str, partition_expr: str, heavy: list) -> dict:
    """The pipeline body's Column expressions, by role."""
    ex = {
        "pk": F.expr(partition_expr).alias("partition_key"),
        "rows_scanned": F.count(F.lit(1)).alias("rows_scanned"),
        "dup_count": F.count(F.lit(1)).alias("dup_count"),
        "passed": F.col("invalid_rows") == 0,
        "hviols_nonempty": F.size("hviols") > 0,
    }
    ex["dup_select"] = [
        F.col(key_col),
        F.lit("uniqueItems").alias("keyword"),
        F.lit("/uniqueItems").alias("schema_path"),
        F.lit("/" + key_col).alias("doc_path"),
        F.concat(F.lit("duplicate key: "),
                 F.col("dup_count").cast("string"),
                 F.lit(" occurrences")).alias("message"),
        F.lit("error").alias("level")]
    ex["viol_agg"] = [
        F.sum((~F.col("valid")).cast("long")).alias("_invalid"),
        F.sum(F.size(F.col("violations"))).alias("_vcount")]
    ex["verdict_select"] = [
        F.col("partition_key"), F.col("rows_scanned"),
        F.coalesce("_invalid", F.lit(0)).cast("long")
         .alias("invalid_rows"),
        F.coalesce("_vcount", F.lit(0)).cast("long")
         .alias("violation_count")]
    ex["verdict_merge"] = [
        F.col("partition_key"), F.col("rows_scanned"),
        (F.col("invalid_rows") + F.coalesce("_hinvalid", F.lit(0)))
        .cast("long").alias("invalid_rows"),
        (F.col("violation_count") + F.coalesce("_hvcount", F.lit(0)))
        .cast("long").alias("violation_count")]
    if heavy:
        null_any = F.col(heavy[0]).isNull()
        for c in heavy[1:]:
            null_any = null_any | F.col(c).isNull()
        ex["null_any"] = null_any
        heavy_msgs = [f"required property {c!r} missing" for c in heavy]

        def _is_heavy_req(v):
            return ((v["keyword"] == "required")
                    & (v["doc_path"] == "")
                    & v["message"].isin(heavy_msgs))

        ex["heavy_select"] = [
            F.col(key_col), ex["pk"],
            F.filter("violations", _is_heavy_req).alias("hviols"),
            F.exists("violations",
                     lambda v: (v["level"] == "error")
                     & ~_is_heavy_req(v)).alias("other_err")]
        ex["hagg"] = [
            F.sum((F.exists("hviols",
                            lambda v: v["level"] == "error")
                   & ~F.col("other_err")).cast("long"))
             .alias("_hinvalid"),
            F.sum(F.size("hviols")).alias("_hvcount")]
    return ex

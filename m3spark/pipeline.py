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

import functools
import json
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3spark.checks import uniqueness_violations
from m3spark.columnar import ColumnarValidator
from m3spark.memo import expr_memo
from m3spark.pages import PAGES_SCHEMA
from m3spark.sparkval import violation_rows

_log = logging.getLogger(__name__)


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
        that carry a violation in the validator's value scan
        (``ColumnarValidator.violation_scans``) — the shared core of
        the downstream jobs
      - ``slim_heavy``: (key, partition_key, hviols, other_err) of the
        validator's null-only scan, or None when no blob column is
        null-only.  Such a column (html under ``PAGES_SCHEMA``) never
        enters the value scan, so a ``required`` violation of another
        key renders its row document without it (identical when it is
        null: to_json omits nulls)
      - ``violations``: exploded north-star violation table
      - ``partition_verdicts``: per-partition pass/fail + counts
      - ``validator``: the ``ColumnarValidator`` behind ``rows``

    With ``persist=True``, ``slim`` is persisted, and it is the only
    relation the caller releases (``res["slim"].unpersist()``)."""
    schema = schema or PAGES_SCHEMA
    cv, carried, ex = _plan(schema, pages, key_col, partition_expr,
                            format_assertion)
    # slim holds the VIOLATING rows alone (~3% with the planted anomaly
    # rates): every consumer but the rows total looks at them only, and
    # caching the full projection cost ~35% of the flagship job at 10M
    # rows
    value, nulls, moved, skipped = cv.violation_scans(pages, carried)
    slim = value.select(F.col(key_col), ex["pk"], "valid", "violations")
    if skipped:
        _log.info("validate_pages runs without the violation prefilter: %s",
                  skipped)
        # redundant after the prefilter, and far from free: pushdown
        # substitutes the whole violations expression into the filter
        slim = slim.where(F.size("violations") > 0)
    if persist:
        slim = slim.persist()

    keys = [key_col, "partition_key"]
    viol = violation_rows(slim, keys)
    slim_heavy = None
    if nulls is not None:
        _log.info("validate_pages moves heavy columns %s to the "
                  "footer-only IS NULL scan", list(moved))
        # footer-only on clean data, so this relation is not persisted
        slim_heavy = nulls.select(
            F.col(key_col), ex["pk"], F.col("violations").alias("hviols"),
            "other_err")
        viol = viol.unionByName(violation_rows(slim_heavy, keys, "hviols"))
    if with_uniqueness:
        # a key duplicated ACROSS partitions has no single partition_key
        # (filled null by allowMissingColumns)
        viol = viol.unionByName(uniqueness_violations(pages, key_col),
                                allowMissingColumns=True)

    # one shuffle for every verdict figure: pages (a scan of the key
    # column alone), slim and slim_heavy add (rows, invalid, violations)
    # terms to one union, summed per key; a slim_heavy row is invalid
    # only without other_err, so no row counts twice.  Grouping keeps a
    # NULL key, which an equi-join would drop.
    parts = [pages.select(*ex["page_terms"]), slim.select(*ex["slim_terms"])]
    if slim_heavy is not None:
        parts.append(slim_heavy.select(*ex["heavy_terms"]))
    verdicts = (functools.reduce(DataFrame.unionByName, parts)
                .groupBy("partition_key").agg(*ex["verdict_sums"])
                .withColumn("passed", ex["passed"]))
    return {"rows": cv.apply(pages), "slim": slim, "slim_heavy": slim_heavy,
            "violations": viol, "partition_verdicts": verdicts,
            "validator": cv}


def _plan(schema: dict, pages: DataFrame, key_col: str,
          partition_expr: str, format_assertion: bool):
    """(validator, the columns the pipeline carries, pipeline Column
    expressions) for ``validate_pages``.  Expression memo
    (m3spark.memo), expressions only: keyed on the SparkContext, the
    canonical schema JSON plus options and the ordered input dtypes."""
    def build():
        pk = F.expr(partition_expr).alias("partition_key")
        # the key and every column the partition key reads
        refs = (pages.select(pk)._jdf.queryExecution().analyzed()
                .references().iterator())
        carried = [key_col]
        while refs.hasNext():
            carried.append(refs.next().name())
        return (ColumnarValidator(schema, format_assertion=format_assertion),
                carried, _pipe_exprs(pk))

    try:
        owner = (json.dumps(schema, sort_keys=True), format_assertion,
                 key_col, partition_expr)
    except (TypeError, ValueError):
        return build()
    return expr_memo(owner, pages.dtypes, (), build)


def _pipe_exprs(pk) -> dict:
    """The pipeline body's Column expressions, by role."""
    return {
        "pk": pk,
        "passed": F.col("invalid_rows") == 0,
        "page_terms": [pk, F.lit(1).alias("_rows"),
                       F.lit(0).alias("_invalid"), F.lit(0).alias("_vcount")],
        "slim_terms": [F.col("partition_key"), F.lit(0).alias("_rows"),
                       (~F.col("valid")).cast("int").alias("_invalid"),
                       F.size("violations").alias("_vcount")],
        # every null-only row carries a presence error
        "heavy_terms": [F.col("partition_key"), F.lit(0).alias("_rows"),
                        (~F.col("other_err")).cast("int").alias("_invalid"),
                        F.size("hviols").alias("_vcount")],
        "verdict_sums": [F.sum("_rows").alias("rows_scanned"),
                         F.sum("_invalid").alias("invalid_rows"),
                         F.sum("_vcount").alias("violation_count")],
    }

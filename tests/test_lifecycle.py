"""Lifecycle of what validation keeps between calls: the expression memo
(m3spark.memo) must key on column order and on the live SparkContext,
and every persisted relation must have a named owner that releases
it."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from m3spark.columnar import ColumnarValidator
from m3spark.pages import generate_pages
from m3spark.pipeline import validate_pages

ROOT = pathlib.Path(__file__).resolve().parent.parent

SCHEMA = {"type": "object", "required": ["a", "b", "z"],
          "properties": {"b": {"type": "string", "pattern": "^x"}}}


def _violations(cv, df, prefilter):
    if prefilter:
        df = cv.violation_prefilter(df)
    return sorted(tuple(r) for r in cv.violation_rows(df, "a").collect())


@pytest.mark.parametrize("prefilter", [False, True],
                         ids=["apply", "violation_prefilter"])
def test_reordered_columns_render_their_own_row(spark, prefilter):
    """The top-level ``required`` violation renders the row document in
    the input's column order; a validator that already saw the same
    columns in another order must not reuse that render."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    reordered = df.select("b", "a")
    cv = ColumnarValidator(SCHEMA)
    _violations(cv, df, prefilter)
    got = _violations(cv, reordered, prefilter)
    assert got == _violations(ColumnarValidator(SCHEMA), reordered,
                              prefilter)
    required = [r for r in got if r[1] == "required"]
    assert [r[-1] for r in required] == ['{"b":"x","a":1}',
                                         '{"b":"y","a":2}']


RESTART_SCRIPT = """
import json
from m3spark.columnar import ColumnarValidator
from m3spark.pages import generate_pages
from m3spark.pipeline import validate_pages
from m3spark.session import get_spark

SCHEMA = json.loads(%r)

def start():
    spark = get_spark("m3spark-restart", cores=2, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    return spark

def run(spark, cv):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    res = validate_pages(generate_pages(spark, 1000))
    return res["validator"], {
        "apply": sorted(map(str, cv.violation_rows(df, "a").collect())),
        "verdicts": sorted(map(str, res["partition_verdicts"].collect())),
        "violations": sorted(map(str, res["violations"].collect()))}

spark = start()
cv = ColumnarValidator(SCHEMA, force_python_patterns=True)
pipe_before, before = run(spark, cv)
spark.stop()
spark = start()
pipe_after, after = run(spark, cv)
_, fresh = run(spark, ColumnarValidator(SCHEMA, force_python_patterns=True))
spark.stop()
print("RESULT " + json.dumps({
    "same": before == after == fresh,
    "pipeline_validator_reused": pipe_before is pipe_after}))
"""


def test_session_restart_rebuilds_memoized_columns():
    """A validator with Python-UDF patterns and a ``validate_pages`` call
    made before ``spark.stop()``: after ``get_spark`` starts a new
    session, every Column is rebuilt under the new SparkContext (no
    accumulator of the stopped one is touched) and results equal a
    fresh run's.  Runs in its own process, since it stops its session."""
    env = dict(os.environ, PYTHONPATH=str(ROOT),
               SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", RESTART_SCRIPT % json.dumps(SCHEMA)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("RESULT ")][-1]
    out = json.loads(line[len("RESULT "):])
    assert out == {"same": True, "pipeline_validator_reused": False}
    assert "Failed to update accumulator" not in proc.stderr


def test_job_loop_releases_every_persisted_relation(spark, tmp_path):
    """The batch job's loop: one ``validate_pages(persist=True)`` per
    day-chunk, releasing ``res["slim"]`` after each.  Nothing else may
    stay persisted."""
    path = str(tmp_path / "pages")
    (generate_pages(spark, 2000)
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.partitionBy("warc_day").parquet(path))
    pages = spark.read.parquet(path)
    days = sorted(r[0] for r in
                  pages.select("warc_day").distinct().collect())[:3]
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    for day in days:
        res = validate_pages(pages.where(F.col("warc_day") == day),
                             partition_expr="warc_day",
                             with_uniqueness=False, persist=True)
        assert res["slim_heavy"] is not None
        try:
            res["partition_verdicts"].collect()
            res["violations"].count()
        finally:
            res["slim"].unpersist()
        assert sc.getPersistentRDDs().size() == before


# every call that persists a relation under m3spark/, by (file, top-level
# function, method), with the handle its caller releases it through
PERSIST_SITES = {
    ("m3spark/ops/dedup.py", "jaccard_pairs", "persist"):
        "cached_shingles",
    ("m3spark/ops/dedup.py", "minhash_pairs", "persist"): "cached_sigs",
    ("m3spark/ops/dedup.py", "dedup_clusters", "checkpoint"):
        "cached_edges",
    ("m3spark/ops/dedup.py", "dedup_clusters", "localCheckpoint"):
        "cached_edges",
    ("m3spark/ops/similarity.py", "lsh_candidates", "persist"):
        "cached_buckets",
    ("m3spark/pipeline.py", "validate_pages", "persist"): '"slim"',
}


def test_persist_call_sites_have_a_release_handle():
    found = {}
    for path in sorted((ROOT / "m3spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        source = path.read_text()
        for fn in ast.parse(source).body:
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("persist", "cache",
                                               "checkpoint",
                                               "localCheckpoint")):
                    found[(rel, getattr(fn, "name", None),
                           node.func.attr)] = ast.get_source_segment(
                               source, fn)
    assert set(found) == set(PERSIST_SITES)
    for site, handle in PERSIST_SITES.items():
        assert handle in found[site], (site, handle)

"""The production job's per-chunk library calls: the checkpoint store
runs no Spark job (pyarrow I/O on the driver), reads a store directory
that Spark wrote, and the partition verdicts are one aggregate over a
union, with no join, so a NULL partition key gets its real counts."""

from __future__ import annotations

import datetime
import os
import uuid

import pytest
from pyspark.sql import functions as F

from m3spark.checks import CheckpointStore, run_resumable_batched
from m3spark.checks.checkpoint import CHECKPOINT_SCHEMA
from m3spark.pages import generate_pages
from m3spark.pipeline import validate_pages

ROWS = [("s1", "day=a", 10, 1, 0.5, "r0"),
        ("s1", "day=b", 20, 0, 0.5, "r0"),
        ("s2", "day=a", 10, 1, 0.25, "r0")]


def _jobs_started(spark, fn) -> tuple:
    """``fn()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"job-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count guard")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _sorted_lineage(store):
    return sorted(tuple(r) for r in store.lineage().collect())


def test_store_starts_no_spark_job(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    # the counter sees a job when one runs
    assert _jobs_started(spark, lambda: spark.range(3).collect())[1]
    assert _jobs_started(spark, lambda: store.append_many(ROWS)) == \
        (None, [])
    assert _jobs_started(spark, lambda: store.completed("s1")) == \
        ({"day=a", "day=b"}, [])
    assert _jobs_started(spark, store.compact) == (None, [])
    assert _sorted_lineage(store) == sorted(ROWS)


def test_append_leaves_only_part_files(spark, tmp_path):
    """Each append is one ``part-<uuid>.parquet``; its temp name is gone."""
    path = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, path)
    store.append_many(ROWS[:2])
    store.append_many(ROWS[2:])
    names = os.listdir(path)
    assert len(names) == 2
    assert all(n.startswith("part-") and n.endswith(".parquet")
               for n in names)
    assert store.completed("s2") == {"day=a"}
    with pytest.raises(ValueError):
        store.append_many([ROWS[0][:5]])  # one field short
    assert len(os.listdir(path)) == 2


def test_spark_written_store_reads_appends_and_compacts(spark, tmp_path):
    """A store directory written by Spark (``part-*.snappy.parquet``,
    ``_SUCCESS``, ``.crc``) keeps working: ``completed`` reads it, an
    append adds to it, ``lineage`` reads all of it, ``compact`` leaves
    one file."""
    path = str(tmp_path / "ckpt")
    for rows in (ROWS[:2], ROWS[2:]):
        (spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
              .coalesce(1).write.mode("append").parquet(path))
    names = os.listdir(path)
    assert "_SUCCESS" in names
    assert any(n.endswith(".snappy.parquet") for n in names)
    assert any(n.endswith(".crc") for n in names)

    store = CheckpointStore(spark, path)
    assert store.completed("s1") == {"day=a", "day=b"}
    new = ("s2", "day=b", 20, 0, 0.75, "r1")
    store.append_many([new])
    assert store.completed("s2") == {"day=a", "day=b"}
    want = sorted(ROWS + [new])
    assert _sorted_lineage(store) == want

    store.compact()
    parts = [n for n in os.listdir(path) if not n.startswith((".", "_"))]
    assert len(parts) == 1
    assert _sorted_lineage(store) == want
    assert store.completed("s1") == {"day=a", "day=b"}


def test_resumable_batched_null_partition(spark, tmp_path):
    """A NULL partition value is validated, checkpointed and skipped on
    resume like any other, under its own spec (not the string "None")."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "None")], "id int, day string")
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    seen = []

    def validate_batch(chunk_df):
        rows = chunk_df.groupBy("day").count().collect()
        seen.extend(r["day"] for r in rows)
        return {r["day"]: (r["count"], 0) for r in rows}

    out = run_resumable_batched(df, "day", store, "s", validate_batch,
                                batch_size=2)
    assert sorted(out["validated"]) == [
        "day=None", "day=__HIVE_DEFAULT_PARTITION__", "day=a"]
    assert sorted(seen, key=str) == [None, "None", "a"]
    assert store.lineage().agg(F.sum("rows_scanned")).head()[0] == 4
    again = run_resumable_batched(df, "day", store, "s", validate_batch,
                                  batch_size=2)
    assert not again["validated"] and len(again["skipped"]) == 3


@pytest.fixture(scope="module")
def null_day_pages(spark):
    """Three pages: one dated, two with NULL ``warc_ts`` (one of those
    also lacks its ``html``, a heavy column)."""
    base = generate_pages(spark, 3).orderBy("url").collect()
    ts = datetime.datetime(2024, 6, 1, 12)
    rows = [(base[0]["url"], ts, base[0]["html"], base[0]["text"], "en"),
            (base[1]["url"], None, base[1]["html"], base[1]["text"], "en"),
            (base[2]["url"], None, None, base[2]["text"], "en")]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")


def test_null_partition_key_verdict(null_day_pages):
    """The NULL partition's verdict counts the violations the violation
    table holds for it: both rows invalid, three violations."""
    res = validate_pages(null_day_pages, with_uniqueness=False)
    assert res["slim_heavy"] is not None
    got = {r["partition_key"]: tuple(r)[1:]
           for r in res["partition_verdicts"].collect()}
    assert got == {datetime.date(2024, 6, 1): (1, 0, 0, True),
                   None: (2, 2, 3, False)}
    per_key = {r["partition_key"]: r["count"] for r in
               res["violations"].groupBy("partition_key").count().collect()}
    assert per_key == {None: 3}


def test_partition_verdicts_plan_has_no_join(spark):
    """Verdicts are one aggregate over a union of the page, slim and
    heavy terms: the executed plan holds no join."""
    res = validate_pages(generate_pages(spark, 200), with_uniqueness=False)
    assert res["slim_heavy"] is not None
    plan = (res["partition_verdicts"]._jdf.queryExecution()
            .executedPlan().toString())
    assert "Union" in plan
    assert "Join" not in plan

"""Pages pipeline: generation determinism, byte-identical extraction,
planted-anomaly detection rates, table-scale checks, resumability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from m3spark.pages import PAGES_SCHEMA, extract_text, generate_pages
from m3spark.pipeline import validate_pages
from m3spark.checks import (
    CheckpointStore, column_stats, drift_report, duplicate_keys,
    partition_stats, referential_violations, run_resumable_batched,
)

N = 20_000


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, N).cache()
    df.count()
    yield df
    df.unpersist()


def test_schema_shape(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    kinds = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert kinds["html"] == "binary" and kinds["warc_ts"] == "timestamp"


def test_generation_deterministic(spark, pages):
    """Same content regardless of partition count (hash-of-id derivation)."""
    p2 = generate_pages(spark, N, n_partitions=3)
    assert pages.select("url", "text", "lang").exceptAll(
        p2.select("url", "text", "lang")).count() == 0


def test_extraction_byte_identical(pages):
    """North-star per-row invariant: extracted text == source text,
    byte for byte (BASELINE.json input_hint)."""
    ext = extract_text(pages)
    assert ext.where(
        ~F.col("extracted_text").eqNullSafe(F.col("text"))).count() == 0


def test_planted_anomaly_rates(pages):
    res = validate_pages(pages)
    by_kw = {r["keyword"]: r["count"] for r in
             res["violations"].groupBy("keyword").count().collect()}
    assert by_kw["format"] == N // 100        # 1% malformed urls
    assert by_kw["minLength"] == N // 100     # 1% empty text
    assert by_kw["enum"] == N // 200          # 0.5% lang outside enum
    assert by_kw["uniqueItems"] == N // 200   # 0.5% duplicated urls
    assert "pattern" not in by_kw             # all urls are https://


def test_heavy_split_scan_shape(spark, tmp_path):
    """r8: the value scan must not read the html blob (its only
    constraint is `required`), and the required-on-html scan must push
    IsNull(html) to parquet so row-group null_count stats skip clean
    data entirely."""
    path = str(tmp_path / "pages.parquet")
    generate_pages(spark, 2000).write.parquet(path)
    pages = spark.read.parquet(path)
    res = validate_pages(pages)
    assert res["slim_heavy"] is not None
    slim_plan = res["slim"]._jdf.queryExecution().executedPlan().toString()
    assert "html" not in slim_plan.split("ReadSchema:")[-1]
    heavy_plan = (res["slim_heavy"]._jdf.queryExecution()
                  .executedPlan().toString())
    assert "IsNull(html)" in heavy_plan


def test_validate_pages_logs_a_skipped_prefilter(spark, caplog):
    """A schema with content keywords runs without the violation
    prefilter, and validate_pages logs why."""
    import logging

    schema = {"$schema": "https://json-schema.org/draft/2020-12/schema",
              "required": ["url"],
              "properties": {"text": {"contentMediaType":
                                      "application/json"}}}
    with caplog.at_level(logging.INFO, logger="m3spark.pipeline"):
        validate_pages(generate_pages(spark, 100), schema,
                       with_uniqueness=False)
    assert [r.getMessage() for r in caplog.records
            if r.name == "m3spark.pipeline"] == [
        "validate_pages runs without the violation prefilter: "
        "violation_prefilter does not support schemas with content "
        "keywords"]


def test_validate_pages_logs_its_heavy_columns(spark, caplog):
    """The heavy-column split is logged with the columns it moves."""
    import logging

    with caplog.at_level(logging.INFO, logger="m3spark.pipeline"):
        validate_pages(generate_pages(spark, 100), with_uniqueness=False)
    assert [r.getMessage() for r in caplog.records
            if r.name == "m3spark.pipeline"] == [
        "validate_pages moves heavy columns ['html'] to the footer-only "
        "IS NULL scan"]


def test_heavy_split_exact_on_nulls(spark):
    """Verdicts and violation identities from the split path must be
    bit-identical to the single full-apply semantics on dirty data:
    nulls in html (the heavy column), in the light columns, and in
    combinations — no double-counted invalid rows, no lost required
    violations."""
    base = generate_pages(spark, 4000)
    sid = F.xxhash64("url")
    dirty = base.select(
        F.when(F.abs(sid) % 97 == 0, F.lit(None))
         .otherwise(F.col("url")).alias("url"),
        F.col("warc_ts"),
        F.when(F.abs(sid) % 11 == 2, F.lit(None).cast("binary"))
         .otherwise(F.col("html")).alias("html"),
        F.when(F.abs(sid) % 83 == 3, F.lit(None))
         .otherwise(F.col("text")).alias("text"),
        F.col("lang")).cache()
    try:
        res = validate_pages(dirty)
        rows = res["rows"]  # untouched full-apply ground truth
        exp = (dirty.groupBy(F.to_date("warc_ts").alias("partition_key"))
                    .agg(F.count(F.lit(1)).alias("rows_scanned"))
               .join(rows.select(
                         F.to_date("warc_ts").alias("partition_key"),
                         "valid", "violations")
                     .groupBy("partition_key")
                     .agg(F.sum((~F.col("valid")).cast("long")).alias("_i"),
                          F.sum(F.size("violations")).alias("_v")),
                     "partition_key", "left")
               .select("partition_key", "rows_scanned",
                       F.coalesce("_i", F.lit(0)).cast("long")
                        .alias("invalid_rows"),
                       F.coalesce("_v", F.lit(0)).cast("long")
                        .alias("violation_count"))
               .withColumn("passed", F.col("invalid_rows") == 0))
        got = res["partition_verdicts"]
        assert exp.exceptAll(got).count() == 0
        assert got.exceptAll(exp).count() == 0
        # violation identity (sans the truncated debug render, which on
        # light-required rows comes from the pruned projection)
        exp_v = (rows.select("url", F.explode("violations").alias("v"))
                 .select("url", "v.keyword", "v.schema_path",
                         "v.doc_path", "v.message", "v.level"))
        got_v = (res["violations"]
                 .where(F.col("keyword") != "uniqueItems")
                 .select("url", "keyword", "schema_path", "doc_path",
                         "message", "level"))
        assert exp_v.exceptAll(got_v).count() == 0
        assert got_v.exceptAll(exp_v).count() == 0
    finally:
        dirty.unpersist()


def test_partition_verdicts(pages):
    res = validate_pages(pages)
    v = res["partition_verdicts"]
    rows = v.collect()
    assert sum(r["rows_scanned"] for r in rows) == N
    assert all(not r["passed"] for r in rows)  # every day has anomalies
    assert {r["partition_key"].month for r in rows} == {6}


def test_column_stats(pages):
    s = column_stats(pages, ["url", "lang"], distinct="exact").collect()[0]
    assert s["row_count"] == N
    assert s["url_nulls"] == 0
    assert s["lang_distinct"] == 9  # 8 enum langs + 'xx'
    # per-physical-partition stats carry a partition id per input split
    ps = partition_stats(pages, ["lang"]).collect()
    assert len(ps) == pages.rdd.getNumPartitions()


def test_duplicate_keys_salted_equals_plain(pages):
    plain = {r["url"]: r["dup_count"]
             for r in duplicate_keys(pages, "url").collect()}
    salted = {r["url"]: r["dup_count"]
              for r in duplicate_keys(pages, "url", salt_partitions=16).collect()}
    assert plain == salted and len(plain) == N // 200


def test_referential(spark, pages):
    dims = spark.createDataFrame(
        [("hot-zero.example.com",), ("hot-one.example.com",),
         ("hot-two.example.com",)], "domain string")
    fact = pages.withColumn(
        "domain", F.regexp_extract("url", r"^https://([^/]+)/", 1))
    missing = referential_violations(fact, dims, "domain")
    # every tail domain is a violation; hot domains resolve
    assert 0 < missing.count() < N
    assert missing.where(F.col("domain").startswith("hot-")).count() == 0


def test_drift(spark, pages):
    drifted = generate_pages(spark, N, drifted=True)
    rep = drift_report(
        pages, drifted, cat_cols=["lang"],
        num_cols=[("length(text)", 20, 0.0, 8000.0)])
    assert rep["lang"]["psi"] > 0.1          # planted shift is detected
    assert rep["length(text)"]["psi"] < 0.05  # lengths did not drift
    same = drift_report(pages, pages, cat_cols=["lang"])
    assert same["lang"]["psi"] == 0.0 and same["lang"]["ks"] == 0.0


def test_resumability(tmp_path, spark, pages):
    """Kill-and-restart skips checkpointed partitions (FIXTURES.md §7):
    one partition per chunk, and the 4th chunk crashes."""
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    df = pages.withColumn("day", F.to_date("warc_ts"))

    def crashing_on(chunk):
        calls = {"n": 0}

        def validate_batch(chunk_df):
            calls["n"] += 1
            if calls["n"] == chunk:
                raise RuntimeError("simulated failure")
            rows = (chunk_df.groupBy("day")
                            .agg(F.count(F.lit(1)).alias("n")).collect())
            return {r["day"]: (r["n"], r["n"]) for r in rows}
        return validate_batch

    with pytest.raises(RuntimeError, match="simulated failure"):
        run_resumable_batched(df, "day", store, "snap1", crashing_on(4),
                              batch_size=1)
    assert len(store.completed("snap1")) == 3
    out = run_resumable_batched(df, "day", store, "snap1", crashing_on(None),
                                batch_size=1)
    assert len(out["skipped"]) == 3
    assert len(out["validated"]) == 30 - 3
    assert not set(out["skipped"]) & set(out["validated"])
    lineage = store.lineage()
    assert lineage.count() == 30
    assert lineage.agg(F.sum("rows_scanned")).head()[0] == N
    assert set(lineage.columns) >= {
        "snapshot_id", "partition_spec", "rows_scanned", "violations",
        "wall_time_s"}
    # a fresh snapshot id revalidates everything (nothing skipped)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_resumable_batched(df, "day", store, "snap2", crashing_on(2),
                              batch_size=1)
    assert len(store.completed("snap2")) == 1


def test_resumability_batched(tmp_path, spark, pages):
    """Chunked mode: one filtered job per chunk, per-partition lineage,
    restart skips whole chunks already recorded."""
    store = CheckpointStore(spark, str(tmp_path / "ckpt_b"))
    df = pages.withColumn("day", F.to_date("warc_ts"))

    calls = {"n": 0}

    def validate_batch(chunk_df):
        calls["n"] += 1
        rows = (chunk_df.groupBy("day")
                        .agg(F.count(F.lit(1)).alias("n")).collect())
        return {r["day"]: (r["n"], 0) for r in rows}

    out = run_resumable_batched(df, "day", store, "snapB", validate_batch,
                                batch_size=8)
    assert len(out["validated"]) == 30 and calls["n"] == 4  # ceil(30/8)
    lineage = store.lineage()
    assert lineage.count() == 30
    assert lineage.agg(F.sum("rows_scanned")).head()[0] == N
    # restart: everything skipped, no new jobs
    out2 = run_resumable_batched(df, "day", store, "snapB", validate_batch,
                                 batch_size=8)
    assert len(out2["skipped"]) == 30 and len(out2["validated"]) == 0
    assert calls["n"] == 4

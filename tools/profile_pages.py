"""Component profile of the pages_validate flagship job (guide §1):
times the sub-jobs separately in a warm session — full-table scans of
column subsets, the prefilter+apply job, totals, uniqueness — so the
next optimization targets the measured cost, not a guess."""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def t(label, fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    print(f"{best:8.3f}  {label}", flush=True)
    return best


def main():
    from m3spark.session import get_spark
    from m3spark.pipeline import validate_pages

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cache = os.environ.get("M3SPARK_BENCH_CACHE", "/tmp/m3spark_bench")
    path = os.path.join(cache, f"pages_{n_pages}.parquet")
    spark = get_spark("profile-pages")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.isdir(path):
        from m3spark.pages import generate_pages
        generate_pages(spark, n_pages).write.mode("overwrite").parquet(path)

    pages = spark.read.parquet(path)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    t("scan url only (noop)", lambda: noop(pages.select("url")))
    t("scan text only (noop)", lambda: noop(pages.select("text")))
    t("scan html only (noop)", lambda: noop(pages.select("html")))
    t("scan html isnull (noop)",
      lambda: noop(pages.select(F.col("html").isNull())))
    t("scan where html isnull (count)",
      lambda: pages.where(F.col("html").isNull()).count())
    t("scan all-but-html (noop)",
      lambda: noop(pages.select("url", "warc_ts", "text", "lang")))
    t("scan all (noop)", lambda: noop(pages))

    t("totals groupBy day (count-ish)",
      lambda: pages.groupBy(F.to_date("warc_ts")).count().collect())
    t("uniqueness url groupBy>1 (count)",
      lambda: pages.groupBy("url").agg(F.count(F.lit(1)).alias("c"))
                   .filter("c>1").count())
    t("uniqueness via xxhash64 (count)",
      lambda: pages.groupBy(F.xxhash64("url").alias("h"))
                   .agg(F.count(F.lit(1)).alias("c"))
                   .filter("c>1").count())

    from m3spark.columnar import ColumnarValidator
    from m3spark.pages import PAGES_SCHEMA
    cv = ColumnarValidator(PAGES_SCHEMA)
    t("prefilter only (count)",
      lambda: cv.violation_prefilter(pages).count())
    t("prefilter+apply slim (noop)", lambda: noop(
        cv.apply(cv.violation_prefilter(pages)).select(
            "url", F.to_date("warc_ts").alias("pk"), "valid", "violations")
        .where(F.size("violations") > 0)))

    def full():
        res = validate_pages(pages, persist=True)
        try:
            verdicts = res["partition_verdicts"].collect()
            n = sum(r["rows_scanned"] for r in verdicts)
            res["violations"].count()
        finally:
            res["slim"].unpersist()
        return n

    t("FULL validate_pages job1+job2", full)
    spark.stop()


if __name__ == "__main__":
    main()

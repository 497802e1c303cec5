"""spark-submit entry point for the north-star validation run.

    spark-submit --py-files m3spark.zip jobs/validate_pages_job.py \
        --input  <iceberg-table-or-parquet-dir> \
        --output <report-dir> \
        --checkpoint <checkpoint-dir> [--resume]

Reads the pages table, runs the compiled columnar validation +
table-scale checks per partition with checkpointed lineage (resumable:
a restarted run skips partitions already recorded for the current
snapshot), writes violation rows + partition verdicts, prints a JSON
summary line.

Build the py-files bundle with:  python jobs/package.py
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip partitions already checkpointed for this snapshot")
    ap.add_argument("--partition-col", default="warc_day")
    ap.add_argument("--batch-size", type=int, default=8,
                    help="pending partitions validated per chunk; a "
                         "chunk runs about 7 Spark jobs whatever its "
                         "size, so larger chunks amortize their fixed "
                         "cost (a crash loses at most one chunk)")
    ap.add_argument("--generate-rows", type=int, default=0,
                    help="generate a synthetic input of N pages first (demo)")
    args = ap.parse_args(argv)

    from m3spark.pages import generate_pages, PAGES_SCHEMA
    from m3spark.pipeline import validate_pages
    from m3spark.tables import read_pages, snapshot_id, write_pages
    from m3spark.checks import (
        CheckpointStore, column_stats, run_resumable_batched,
    )

    spark = SparkSession.builder.appName("m3spark-validate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # chunk outputs are written partitioned-by-partition-key in OVERWRITE
    # mode with dynamic pruning: re-running a chunk after a mid-chunk crash
    # replaces exactly its own partitions instead of appending duplicates
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if args.generate_rows:
        write_pages(generate_pages(spark, args.generate_rows), args.input)

    pages = read_pages(spark, args.input)
    snap = snapshot_id(spark, args.input)
    store = CheckpointStore(spark, args.checkpoint)

    if args.partition_col not in pages.columns:
        pages = pages.withColumn(args.partition_col, F.to_date("warc_ts"))

    totals = {"rows": 0, "violations": 0}

    def validate_batch(chunk_df):
        # uniqueness is NOT per-partition/chunk: a url duplicated across
        # crawl days must still be flagged, so it runs as one global
        # keyed count after the loop (see below)
        res = validate_pages(chunk_df, schema=PAGES_SCHEMA,
                             partition_expr=args.partition_col,
                             with_uniqueness=False,
                             persist=True)
        try:
            verdicts = res["partition_verdicts"].collect()
            (res["violations"].write.mode("overwrite")
                .partitionBy("partition_key")
                .parquet(f"{args.output}/violations"))
            (spark.createDataFrame(verdicts).write.mode("overwrite")
                .partitionBy("partition_key")
                .parquet(f"{args.output}/verdicts"))
            # per-partition column stats (null/min/max/distinct via HLL)
            (column_stats(chunk_df, ["url", "text", "lang"],
                          group_by=args.partition_col, distinct="approx")
                .withColumnRenamed(args.partition_col, "partition_key")
                .write.mode("overwrite").partitionBy("partition_key")
                .parquet(f"{args.output}/stats"))
        finally:
            res["slim"].unpersist()
        counts = {r["partition_key"]: (r["rows_scanned"],
                                       r["violation_count"])
                  for r in verdicts}
        totals["rows"] += sum(c[0] for c in counts.values())
        totals["violations"] += sum(c[1] for c in counts.values())
        return counts

    t0 = time.monotonic()
    outcome = run_resumable_batched(pages, args.partition_col, store, snap,
                                    validate_batch,
                                    batch_size=args.batch_size)
    if outcome["validated"]:
        # global cross-partition uniqueness (one keyed count over the
        # url column only — html/text are pruned from the scan)
        from m3spark.checks import uniqueness_violations

        uniq = uniqueness_violations(pages.select("url"), "url")
        n_dups = uniq.count()
        # own directory + full overwrite: idempotent on re-run (a url
        # duplicated across crawl days belongs to no single partition)
        uniq.write.mode("overwrite").parquet(
            f"{args.output}/uniqueness_violations")
        totals["violations"] += n_dups
    wall = time.monotonic() - t0
    summary = {
        "snapshot_id": snap,
        "partitions_validated": len(outcome["validated"]),
        "partitions_skipped": len(outcome["skipped"]),
        "rows": totals["rows"],
        "violations": totals["violations"],
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(totals["rows"] / wall, 1) if wall else None,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

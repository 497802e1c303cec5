"""spark-submit entry point for STREAMING validation — the incremental
twin of jobs/validate_pages_job.py.

    spark-submit --py-files m3spark.zip jobs/validate_pages_stream_job.py \
        --input <arriving-pages-parquet-dir> \
        --output <report-dir> \
        --checkpoint <checkpoint-dir> [--available-now]

File-source micro-batches over an arriving pages directory (the
deployment source would be Kafka/Iceberg — same plan, different
``readStream``), running the SAME compiled columnar plan as the batch
job (m3spark.streaming.validate_stream):

- ``violations/``  — per-row violation rows, native append sink
  (stateless Project: exactly-once via the file-source + sink commit
  log, restart-safe with no rewrites)
- ``verdicts/``    — per-window pass/fail aggregates, foreachBatch +
  dynamic partition overwrite keyed by window_start (update-mode
  aggregate: each micro-batch REPLACES exactly the windows it touched,
  so a crash between batches re-runs idempotently)
- ``drift_buckets/`` — watermarked windowed histogram of text length
  (m3spark.streaming.streaming_drift_buckets), same overwrite-by-window
  sink; feed psi_vs_baseline for per-window PSI

Kill/restart: every query checkpoints under its own subdirectory of
``--checkpoint``; a restarted run resumes from the last committed
micro-batch and skips already-processed input files (pinned by
tests/test_streaming_job.py, which kills between micro-batches).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def _overwrite_by_window(output_dir: str, extra_keys: tuple = ()):
    """foreachBatch sink for an UPDATE-mode aggregate: replace exactly
    the partitions this micro-batch touched (idempotent across
    restarts).  The partition key must match the aggregate's UPDATE
    granularity — update mode emits only changed rows, so overwriting
    a coarser partition would drop its unchanged siblings (hence
    (window_start, bucket) for the histogram, window_start alone for
    the one-row-per-window verdicts)."""
    def write(batch_df, _batch_id):
        (batch_df.withColumn("window_start",
                             F.date_format("window_start",
                                           "yyyy-MM-dd'T'HH-mm-ss"))
                 .write.mode("overwrite")
                 .partitionBy("window_start", *extra_keys)
                 .parquet(output_dir))
    return write


def start_queries(spark: SparkSession, input_dir: str, output_dir: str,
                  checkpoint_dir: str, max_files_per_trigger: int = 1,
                  available_now: bool = True,
                  watermark: str = "1 hour", window: str = "1 day"):
    """Build and start the three streaming queries; returns them
    (caller awaits / stops)."""
    from m3spark.sparkval import violation_rows
    from m3spark.streaming import streaming_drift_buckets, validate_stream

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    src = (spark.readStream.schema(PAGES_DDL)
                .option("maxFilesPerTrigger", str(max_files_per_trigger))
                .parquet(input_dir))
    res = validate_stream(src, watermark=watermark, window=window)

    trigger = {"availableNow": True} if available_now else \
        {"processingTime": "10 seconds"}

    keys = ["url", "warc_ts", "lang"]
    q_rows = (violation_rows(res["rows"].where(~F.col("valid")), keys)
              .select(*keys, "keyword", "schema_path", "message")
              .writeStream.format("parquet")
              .option("path", f"{output_dir}/violations")
              .option("checkpointLocation", f"{checkpoint_dir}/violations")
              .outputMode("append")
              .trigger(**trigger)
              .start())

    q_verdicts = (res["verdicts"]
                  .writeStream
                  .foreachBatch(_overwrite_by_window(
                      f"{output_dir}/verdicts"))
                  .option("checkpointLocation",
                          f"{checkpoint_dir}/verdicts")
                  .outputMode("update")
                  .trigger(**trigger)
                  .start())

    q_drift = (streaming_drift_buckets(src, "length(text)",
                                       watermark=watermark,
                                       window=window,
                                       bins=20, lo=0.0, hi=10000.0)
               .writeStream
               .foreachBatch(_overwrite_by_window(
                   f"{output_dir}/drift_buckets", ("bucket",)))
               .option("checkpointLocation", f"{checkpoint_dir}/drift")
               .outputMode("update")
               .trigger(**trigger)
               .start())

    return [q_rows, q_verdicts, q_drift]


def run_available(spark, input_dir, output_dir, checkpoint_dir,
                  max_files_per_trigger: int = 1,
                  watermark: str = "1 hour",
                  window: str = "1 day") -> dict:
    """One availableNow pass: process everything currently in
    ``input_dir`` that the checkpoint has not seen, then stop.

    Size ``watermark`` to the event-time disorder of the SOURCE: rows
    older than (max event time seen) - watermark are dropped from the
    stateful aggregates (Spark semantics).  A backfill over historical
    files needs a watermark wider than the files' time spread."""
    t0 = time.monotonic()
    queries = start_queries(spark, input_dir, output_dir, checkpoint_dir,
                            max_files_per_trigger=max_files_per_trigger,
                            available_now=True,
                            watermark=watermark, window=window)
    for q in queries:
        q.awaitTermination()
    batches = []
    for q in queries:
        lp = q.lastProgress
        batches.append(lp["batchId"] if lp else None)
    return {"wall_sec": round(time.monotonic() - t0, 2),
            "last_batch_ids": batches}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    ap.add_argument("--watermark", default="1 hour")
    ap.add_argument("--generate-rows", type=int, default=0,
                    help="generate a synthetic input of N pages first")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.appName("m3spark-validate-stream")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    if args.generate_rows:
        from m3spark.pages import generate_pages
        (generate_pages(spark, args.generate_rows)
         .write.mode("append").parquet(args.input))

    summary = run_available(spark, args.input, args.output,
                            args.checkpoint,
                            args.max_files_per_trigger,
                            watermark=args.watermark)
    # the sink directory only exists if some batch wrote invalid rows;
    # an all-valid (or empty) input is a success with 0 violations
    try:
        n_viol = spark.read.parquet(f"{args.output}/violations").count()
    except AnalysisException:
        n_viol = 0
    summary["violation_rows"] = n_viol
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

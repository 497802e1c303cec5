"""Checkpointed, resumable validation runs with per-partition lineage.

North-star requirement: an append-only checkpoint table keyed by
(snapshot id, partition spec) recording rows-scanned / violations /
wall-time; a restarted run anti-joins against it and skips
already-validated partitions (SURVEY.md §2.10).

Backed by a parquet directory here (the sandbox has no Iceberg runtime
jar); the store is a thin interface so an Iceberg table can be swapped
in by changing only this module (SURVEY.md §7 hard-part 6).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

CHECKPOINT_SCHEMA = StructType([
    StructField("snapshot_id", StringType()),
    StructField("partition_spec", StringType()),
    StructField("rows_scanned", LongType()),
    StructField("violations", LongType()),
    StructField("wall_time_s", DoubleType()),
    StructField("run_id", StringType()),
])


class CheckpointStore:
    """Append-only per-partition lineage records in a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def completed(self, snapshot_id: str) -> set[str]:
        if not os.path.isdir(self.path):
            return set()
        try:
            df = self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)
        except Exception:
            return set()
        rows = (df.where(F.col("snapshot_id") == snapshot_id)
                  .select("partition_spec").distinct().collect())
        return {r["partition_spec"] for r in rows}

    def append_many(self, rows: list[tuple]):
        """One parquet file per call regardless of row count — callers
        batch a chunk's partitions into a single append so a 10^5-partition
        run produces O(chunks) files, not O(partitions)."""
        if not rows:
            return
        (self.spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
             .coalesce(1).write.mode("append").parquet(self.path))

    def compact(self):
        """Rewrite the store as a single file (call between runs when the
        append history has accumulated many small files)."""
        if not os.path.isdir(self.path):
            return
        df = self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)
        tmp = self.path.rstrip("/") + ".compact.tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil
        shutil.rmtree(self.path)
        os.rename(tmp, self.path)

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)


def run_resumable_batched(df: DataFrame, partition_col: str,
                          store: CheckpointStore, snapshot_id: str,
                          validate_batch, batch_size: int = 8) -> dict:
    """Validate ``df`` a chunk of partitions at a time, checkpointing
    every partition; on restart, already-checkpointed partitions are
    skipped.

    The pending partitions (distinct ``partition_col`` values not yet
    recorded under ``snapshot_id``) are taken in sorted order, in chunks
    of ``batch_size``.  ``validate_batch(chunk_df)`` gets ``df``
    filtered to one chunk and returns ``{partition_value: (rows,
    violations)}`` for every partition in it (e.g. from the
    partition-verdict aggregate); a missing partition raises
    ``KeyError`` rather than being recorded as complete.  Each chunk's
    records go to ``store`` in one ``append_many``, after
    ``validate_batch`` returns; every record carries the chunk's wall
    time split evenly over its partitions.  So an exception inside a
    chunk loses that chunk's work only, and a rerun validates exactly
    the partitions not yet recorded.

    Returns ``{"validated": [spec, ...], "skipped": [spec, ...]}`` with
    specs of the form ``"<partition_col>=<value>"``.
    """
    run_id = uuid.uuid4().hex[:12]
    done = store.completed(snapshot_id)
    parts = [r[0] for r in
             df.select(partition_col).distinct().orderBy(partition_col)
               .collect()]
    pending = [p for p in parts
               if f"{partition_col}={p}" not in done]
    skipped = [f"{partition_col}={p}" for p in parts
               if f"{partition_col}={p}" in done]
    validated = []
    for i in range(0, len(pending), batch_size):
        chunk = pending[i:i + batch_size]
        t0 = time.monotonic()
        chunk_df = df.where(F.col(partition_col).isin(chunk))
        counts = validate_batch(chunk_df)
        per_part_wall = (time.monotonic() - t0) / max(len(chunk), 1)
        records = []
        for part in chunk:
            spec = f"{partition_col}={part}"
            if part in counts:
                rows_scanned, n_viol = counts[part]
            elif str(part) in counts:
                rows_scanned, n_viol = counts[str(part)]
            else:
                # NEVER checkpoint a partition the validator did not
                # report (a silent (0,0) default would mark it complete
                # and permanently skip it on resume)
                raise KeyError(
                    f"validate_batch returned no counts for partition "
                    f"{part!r} (got keys {sorted(map(str, counts))[:10]}); "
                    f"refusing to checkpoint it as complete")
            records.append((snapshot_id, spec, rows_scanned, n_viol,
                            per_part_wall, run_id))
            validated.append(spec)
        # one atomic-ish append per chunk: a crash before this line loses
        # at most one chunk of work; a crash after it re-does nothing
        store.append_many(records)
    return {"validated": validated, "skipped": skipped}

"""Checkpointed, resumable validation runs with per-partition lineage.

North-star requirement: an append-only checkpoint table keyed by
(snapshot id, partition spec) recording rows-scanned / violations /
wall-time; a restarted run anti-joins against it and skips
already-validated partitions (SURVEY.md §2.10).

Backed by a parquet directory here (the sandbox has no Iceberg runtime
jar); the store is a thin interface so an Iceberg table can be swapped
in by changing only this module (SURVEY.md §7 hard-part 6).

The store lives on the driver's filesystem.  Its records are a few rows
per chunk, so pyarrow writes and reads them there with no Spark job;
only :meth:`CheckpointStore.lineage` reads through Spark.  Both readers
skip ``_``/``.``-prefixed names, so a Spark-written store directory
(``_SUCCESS``, ``.crc``) reads and appends as is.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

_ARROW_SCHEMA = pa.schema([
    ("snapshot_id", pa.string()), ("partition_spec", pa.string()),
    ("rows_scanned", pa.int64()), ("violations", pa.int64()),
    ("wall_time_s", pa.float64()), ("run_id", pa.string())])
CHECKPOINT_SCHEMA = from_arrow_schema(_ARROW_SCHEMA)


def _write_file(table: pa.Table, path: str):
    # one new part-<uuid>.parquet in ``path``, written under a hidden
    # name and renamed, so a crash never leaves a partial file visible
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


class CheckpointStore:
    """Append-only per-partition lineage records in a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self, **kw) -> pa.Table:
        return ds.dataset(self.path, schema=_ARROW_SCHEMA).to_table(**kw)

    def completed(self, snapshot_id: str) -> set[str]:
        if not os.path.isdir(self.path):
            return set()
        in_snapshot = ds.field("snapshot_id") == snapshot_id
        return set(self._read(columns=["partition_spec"], filter=in_snapshot)
                   ["partition_spec"].to_pylist())

    def append_many(self, rows: list[tuple]):
        """One parquet file per call regardless of row count — callers
        batch a chunk's partitions into a single append so a 10^5-partition
        run produces O(chunks) files, not O(partitions)."""
        if not rows:
            return
        cols = list(zip(*rows, strict=True))
        _write_file(pa.Table.from_arrays(cols, schema=_ARROW_SCHEMA),
                    self.path)

    def compact(self):
        """Rewrite the store as a single file (call between runs when the
        append history has accumulated many small files)."""
        if not os.path.isdir(self.path):
            return
        tmp = self.path.rstrip("/") + ".compact.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_file(self._read(), tmp)
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
    specs of the form ``"<partition_col>=<value>"``, where a NULL value is
    Hive's ``__HIVE_DEFAULT_PARTITION__`` (never the string ``"None"``).
    """
    run_id = uuid.uuid4().hex[:12]
    done = store.completed(snapshot_id)
    parts = [r[0] for r in
             df.select(partition_col).distinct().orderBy(partition_col)
               .collect()]
    spec = {p: f"{partition_col}="
               f"{'__HIVE_DEFAULT_PARTITION__' if p is None else p}"
            for p in parts}
    pending = [p for p in parts if spec[p] not in done]
    skipped = [spec[p] for p in parts if spec[p] in done]
    validated = []
    for i in range(0, len(pending), batch_size):
        chunk = pending[i:i + batch_size]
        t0 = time.monotonic()
        # IN never matches NULL: a NULL partition needs its own term
        keep = F.col(partition_col).isin([p for p in chunk if p is not None])
        if None in chunk:
            keep |= F.col(partition_col).isNull()
        chunk_df = df.where(keep)
        counts = validate_batch(chunk_df)
        per_part_wall = (time.monotonic() - t0) / max(len(chunk), 1)
        records = []
        for part in chunk:
            key = part if part in counts else str(part)
            if key not in counts:
                # NEVER checkpoint a partition the validator did not
                # report (a silent (0,0) default would mark it complete
                # and permanently skip it on resume)
                raise KeyError(
                    f"validate_batch returned no counts for partition "
                    f"{part!r} (got keys {sorted(map(str, counts))[:10]}); "
                    f"refusing to checkpoint it as complete")
            rows_scanned, n_viol = counts[key]
            records.append((snapshot_id, spec[part], rows_scanned, n_viol,
                            per_part_wall, run_id))
            validated.append(spec[part])
        # one atomic append per chunk: a crash before this line loses
        # at most one chunk of work; a crash after it re-does nothing
        store.append_many(records)
    return {"validated": validated, "skipped": skipped}

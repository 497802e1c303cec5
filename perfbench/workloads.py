"""The benchmark's workloads: what one operation is, how its output is
checked, and which layer calls are wrapped in spans.

Each workload runs as one closed-loop client on ``local[4]``: the next
operation starts only after the previous one finished.  Only public
functions of the program are called.  Every run goes through three
phases: the cold op (the first in a fresh session), warm-up ops (JIT and
caches settle; timed but not reported), and measured ops for
``--seconds``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq

import inputs
import leaves
from tracing import (
    StatusReader, catalyst_phases, persisted_rdds, tree_bytes_read,
    tree_cpu_seconds,
)

JOB_ROWS = 60_000
JOB_BATCH = 6            # crawl days per chunk: 30 days -> 5 chunks a pass
JSON_DOCS = 24_000
JSON_WARMUP_OPS = 2
JSON_SAMPLE = 300        # documents re-checked on the driver
PROBE_SAMPLE = 300       # documents timed through CompiledSchema.validate

COLD, WARMUP, MEASURED = "cold", "warmup", "measured"


class Recorder:
    """Operation log of one run (wall time, rows, outcome and phase per
    op) and the outcomes of the end-of-pass output checks."""

    def __init__(self):
        self.ops: list[dict] = []
        self.checks: list[tuple[str, bool]] = []

    def add(self, seconds: float, cpu: float, rows: int, ok: bool,
            phase: str):
        self.ops.append({"s": seconds, "cpu": cpu, "rows": rows, "ok": ok,
                         "phase": phase})

    def check(self, name: str, ok: bool):
        self.checks.append((name, ok))
        if not ok:
            print(f"perfbench: check failed: {name}", flush=True)


class Workload:
    """Base: subclasses set ``schema`` in ``open`` and implement ``run``
    and, for the traced run, ``probe`` (whose output checks go to the
    run's ``Recorder``)."""

    schema: dict

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.status = StatusReader(spark) if tracer.enabled else None
        self.bytes_read = tree_bytes_read() if tracer.enabled else 0

    def readout(self, *dfs):
        """After an action: executor-side numbers from the status store,
        bytes the process tree read, and Catalyst phase times of the
        DataFrames that ran."""
        if self.status is None:
            return
        with self.tr.span("trace.readout"):
            for name, v in self.status.delta().items():
                self.tr.count(name, v)
            now = tree_bytes_read()
            self.tr.count("io.bytes_read", now - self.bytes_read)
            self.bytes_read = now
            for df in dfs:
                for name, v in catalyst_phases(df).items():
                    self.tr.count(name, v)

    def probe_schema(self, docs: list):
        """Interpreter layer on the driver: compile time of the
        workload's schema and validate time per document on a fixed
        sample (``m3spark.schema.compile_schema``)."""
        from m3spark.schema import compile_schema

        t0 = time.perf_counter()
        cs = compile_schema(self.schema, format_assertion=True)
        self.tr.count("schema.compile_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        for doc in docs:
            cs.validate(doc)
        self.tr.count("schema.validate_us_per_doc",
                      (time.perf_counter() - t0) / len(docs) * 1e6)

    def probe_columnar(self, df):
        """Columnar layer on the driver, from a fresh (unmemoized)
        ``ColumnarValidator``: compile, first and second ``apply`` Column
        build, and the prefilter build."""
        from m3spark.columnar import ColumnarValidator

        t0 = time.perf_counter()
        cv = ColumnarValidator(self.schema, format_assertion=True)
        t1 = time.perf_counter()
        cv.apply(df)
        t2 = time.perf_counter()
        cv.apply(df)
        t3 = time.perf_counter()
        cv.violation_prefilter(df)
        t4 = time.perf_counter()
        self.tr.count("columnar.compile_s", t1 - t0)
        self.tr.count("columnar.apply_build_cold_s", t2 - t1)
        self.tr.count("columnar.apply_build_warm_s", t3 - t2)
        self.tr.count("columnar.prefilter_build_s", t4 - t3)
        self.tr.count("columnar.checks", len(cv.checks))


def _first_row_group(path: str):
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                return pq.ParquetFile(os.path.join(root, name)) \
                         .read_row_group(0)
    raise FileNotFoundError(path)


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's hidden files excluded."""
    size = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, name))
                files += 1
    return size, files


class JsonInterp(Workload):
    """Nested JSON documents through the Arrow-batched interpreter.  One
    op: ``sparkval.validate_json`` and one aggregate action."""

    def open(self):
        self.schema = inputs.DOC_SCHEMA
        self.path, self.planted = inputs.json_input(self.seed, JSON_DOCS)
        self.docs = self.spark.read.parquet(self.path)

    def run(self, rec: Recorder, seconds: float):
        deadline = None
        while deadline is None or time.perf_counter() < deadline:
            n_ops = len(rec.ops)
            phase = (COLD if n_ops == 0 else
                     WARMUP if n_ops <= JSON_WARMUP_OPS else MEASURED)
            if phase == MEASURED and deadline is None:
                deadline = time.perf_counter() + seconds
            t0, c0 = time.perf_counter(), tree_cpu_seconds()
            try:
                n, n_invalid = self.op()
                ok = (n, n_invalid) == (JSON_DOCS, self.planted)
                if not ok:
                    print(f"perfbench: wrong output: {n_invalid} invalid of "
                          f"{n}, planted {self.planted}", flush=True)
            except Exception as e:  # an op that raises counts as failed
                print(f"perfbench: op failed: {e!r}", flush=True)
                ok = False
            rec.add(time.perf_counter() - t0, tree_cpu_seconds() - c0,
                    JSON_DOCS, ok, phase)
        self.check_sample(rec)

    def op(self):
        from pyspark.sql import functions as F

        from m3spark.sparkval import validate_json

        tr = self.tr
        tr.op = (tr.op or 0) + 1
        with tr.span("sparkval.build"):
            out = validate_json(self.docs, self.schema, doc_col="doc",
                                format_assertion=True)
            agg = out.agg(F.count(F.lit(1)),
                          F.sum((~F.col("valid")).cast("long")))
        with tr.span("sparkval.action"):
            n, n_invalid = agg.collect()[0]
        self.readout(agg)
        return n, n_invalid

    def sample_docs(self) -> list[str]:
        return _first_row_group(self.path).column("doc") \
                   .to_pylist()[:JSON_SAMPLE]

    def check_sample(self, rec: Recorder):
        """Spark verdicts on a fixed sample equal driver-side
        ``compile_schema(...).validate``."""
        from pyspark.sql import functions as F

        from m3spark.schema import compile_schema
        from m3spark.sparkval import validate_json

        cs = compile_schema(self.schema, format_assertion=True)
        want = {i: cs.validate(json.loads(d)).valid
                for i, d in enumerate(self.sample_docs())}
        try:
            got = {r["id"]: r["valid"] for r in validate_json(
                self.docs.where(F.col("id") < JSON_SAMPLE), self.schema,
                doc_col="doc", format_assertion=True)
                .select("id", "valid").collect()}
        except Exception as e:  # a check that raises counts as failed
            print(f"perfbench: sample check raised: {e!r}", flush=True)
            got = {}
        rec.check("json sample verdicts equal CompiledSchema.validate",
                  got == want)

    def probe(self, rec: Recorder):
        self.probe_schema([json.loads(d) for d in
                           self.sample_docs()[:PROBE_SAMPLE]])
        # the layers no timed workload runs are probed here, on the
        # shorter of the two workloads
        leaves.run_all(self.spark, rec, self.tr, self.seed)


class ResumableJob(Workload):
    """The resumable production job (``jobs/validate_pages_job.py``) over
    a day-partitioned pages table.  One op: one chunk of days, i.e.
    ``validate_pages``, parquet writes of violations, verdicts and column
    stats, and the checkpoint append.  Every pass ends with a resume pass
    (which must skip every day) and the global url-uniqueness check.
    The first pass holds the cold chunk and the warm-up chunks; then come
    the measured passes that fit in ``--seconds`` (at least one)."""

    def open(self):
        from m3spark.pages import PAGES_SCHEMA
        from m3spark.tables import read_pages

        self.schema = PAGES_SCHEMA
        self.path, self.expected = inputs.pages_by_day_input(self.seed,
                                                             JOB_ROWS)
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                            "dynamic")
        self.pages = read_pages(self.spark, self.path)
        self.work = os.path.join(inputs.HERE, "work", f"job-{os.getpid()}")

    def run(self, rec: Recorder, seconds: float):
        self.chunk_start = None
        deadline = None
        last_pass = 0.0
        n_pass = 0
        try:
            # measured passes are whole passes that fit in --seconds, at
            # least one, so a faster machine does not measure more warmed-up
            # chunks than a slower one
            while deadline is None or \
                    time.perf_counter() + last_pass <= deadline:
                t0 = time.perf_counter()
                self.one_pass(rec, os.path.join(self.work, str(n_pass)),
                              WARMUP if deadline is None else MEASURED)
                n_pass += 1
                if deadline is None:
                    deadline = time.perf_counter() + seconds
                else:
                    last_pass = time.perf_counter() - t0
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def _close_chunk(self, rec: Recorder, ok: bool, phase: str):
        if self.chunk_start is not None:
            rec.add(time.perf_counter() - self.chunk_start,
                    tree_cpu_seconds() - self.chunk_cpu, self.chunk_rows,
                    ok and self.chunk_ok, COLD if not rec.ops else phase)
            self.chunk_start = None

    def one_pass(self, rec: Recorder, base: str, phase: str):
        from m3spark.checks import (
            CheckpointStore, run_resumable_batched, uniqueness_violations,
        )
        from m3spark.tables import snapshot_id

        tr = self.tr
        wl = self
        out = os.path.join(base, "out")
        snap = snapshot_id(self.spark, self.path)
        totals = {"rows": 0, "violations": 0}

        class TimedStore(CheckpointStore):
            def completed(self, snapshot):
                with tr.span("checks.completed"):
                    return super().completed(snapshot)

            def append_many(self, rows):
                with tr.span("checks.append"):
                    super().append_many(rows)
                wl.readout()

        store = TimedStore(self.spark, os.path.join(base, "checkpoint"))

        def validate_batch(chunk_df):
            # a chunk ends when the next begins: its checkpoint append runs
            # in run_resumable_batched after this callback returns
            self._close_chunk(rec, True, phase)
            self.chunk_start = time.perf_counter()
            self.chunk_cpu = tree_cpu_seconds()
            self.chunk_ok, self.chunk_rows = False, 0
            tr.op = (tr.op or 0) + 1
            if tr.enabled:
                before = _dir_stats(out)
            counts = self.chunk(chunk_df, out)
            if tr.enabled:
                after = _dir_stats(out)
                tr.count("io.bytes_written", after[0] - before[0])
                tr.count("io.files_written", after[1] - before[1])
                tr.count("io.write_amp", (after[0] - before[0]) / sum(
                    _dir_stats(os.path.join(self.path, f"warc_day={d}"))[0]
                    for d in counts))
            self.chunk_rows = sum(c[0] for c in counts.values())
            want = {k: v for k, v in self.expected["verdicts"].items()
                    if k in counts}
            self.chunk_ok = bool(counts) and counts == want
            if not self.chunk_ok:
                print(f"perfbench: wrong verdicts for days {sorted(counts)}",
                      flush=True)
            totals["rows"] += self.chunk_rows
            totals["violations"] += sum(c[2] for c in counts.values())
            return {k: (c[0], c[2]) for k, c in counts.items()}

        try:
            run_resumable_batched(self.pages, "warc_day", store, snap,
                                  validate_batch, batch_size=JOB_BATCH)
            self._close_chunk(rec, True, phase)
        except Exception as e:  # the chunk that raised counts as failed
            print(f"perfbench: pass failed: {e!r}", flush=True)
            if self.chunk_start is None:
                rec.add(0.0, 0.0, 0, False, COLD if not rec.ops else phase)
            self._close_chunk(rec, False, phase)
            return

        with tr.span("checks.resume_pass"):
            again = run_resumable_batched(
                self.pages, "warc_day", store, snap,
                lambda _df: {}, batch_size=JOB_BATCH)
        rec.check("resume pass skips every day",
                  len(again["skipped"]) == len(self.expected["verdicts"])
                  and not again["validated"])
        sums = (store.lineage().where(f"snapshot_id = '{snap}'")
                     .groupBy().sum("rows_scanned", "violations").collect())
        rec.check("checkpoint rows sum to the verdict totals",
                  tuple(sums[0]) == (totals["rows"], totals["violations"])
                  and totals["rows"] == JOB_ROWS)
        with tr.span("checks.uniqueness"):
            uniq = uniqueness_violations(self.pages.select("url"), "url")
            n_dups = uniq.count()
            uniq.write.mode("overwrite").parquet(
                os.path.join(out, "uniqueness_violations"))
        self.readout()
        rec.check("global url uniqueness",
                  n_dups == self.expected["dup_urls"])
        if tr.enabled:
            tr.count("checks.resume_skipped", len(again["skipped"]))
            tr.count("checks.checkpoint_files",
                     _dir_stats(os.path.join(base, "checkpoint"))[1])

    def chunk(self, chunk_df, out: str) -> dict:
        """The job's ``validate_batch`` body; returns
        ``{day: (rows_scanned, invalid_rows, violation_count)}``."""
        from m3spark.checks import column_stats
        from m3spark.pipeline import validate_pages

        tr = self.tr
        with tr.span("pipeline.build"):
            res = validate_pages(chunk_df, schema=self.schema,
                                 partition_expr="warc_day",
                                 with_uniqueness=False, persist=True)
        try:
            with tr.span("pipeline.verdicts"):
                vdf = res["partition_verdicts"]
                verdicts = vdf.collect()
            self.readout(vdf)
            with tr.span("pipeline.violations"):
                (res["violations"].write.mode("overwrite")
                    .partitionBy("partition_key")
                    .parquet(f"{out}/violations"))
            self.readout()
            with tr.span("checks.verdicts_write"):
                (self.spark.createDataFrame(verdicts).write
                    .mode("overwrite").partitionBy("partition_key")
                    .parquet(f"{out}/verdicts"))
            self.readout()
            with tr.span("checks.column_stats"):
                (column_stats(chunk_df, ["url", "text", "lang"],
                              group_by="warc_day", distinct="approx")
                    .withColumnRenamed("warc_day", "partition_key")
                    .write.mode("overwrite").partitionBy("partition_key")
                    .parquet(f"{out}/stats"))
            self.readout()
        finally:
            # validate_pages documents slim as the relation its caller
            # unpersists (the job does the same); nothing else is released
            res["slim"].unpersist()
        if tr.enabled:
            tr.count("pipeline.heavy_split",
                     int(res["slim_heavy"] is not None))
            tr.count("pipeline.persisted_rdds", persisted_rdds(self.spark))
        return {str(r["partition_key"]): (r["rows_scanned"],
                                          r["invalid_rows"],
                                          r["violation_count"])
                for r in verdicts}

    def probe(self, rec: Recorder):
        import base64

        rows = _first_row_group(self.path).slice(0, PROBE_SAMPLE).to_pylist()
        # the documents to_json renders from these rows
        self.probe_schema([
            {"url": r["url"], "warc_ts": r["warc_ts"].isoformat(),
             "html": base64.b64encode(r["html"]).decode(),
             "text": r["text"], "lang": r["lang"]} for r in rows])
        self.probe_columnar(self.pages)


WORKLOADS = {"resumable_job": ResumableJob, "json_interp": JsonInterp}

INPUTS = {"resumable_job":
              lambda seed: inputs.pages_by_day_input(seed, JOB_ROWS),
          "json_interp": lambda seed: inputs.json_input(seed, JSON_DOCS)}


def prepare(name: str, seed: int):
    """Generate the workload's inputs, outside any timed process."""
    INPUTS[name](seed)

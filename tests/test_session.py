"""The JVM defaults ``get_spark`` sets and the compilation-layer counters
``jvm_counters`` reads."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

from m3spark.session import _JIT_OPTS, jvm_counters

ROOT = pathlib.Path(__file__).resolve().parent.parent

ARGS_SCRIPT = """
import json
from m3spark.session import get_spark
spark = get_spark("m3spark-jvm-args", cores=1)
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
diag = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print("RESULT " + json.dumps({
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "scaling": diag.getVMOption("CompileThresholdScaling").getValue()}))
spark.stop()
"""


def test_user_java_options_come_after_the_default():
    """The driver JVM starts with the default JIT flag, and a
    ``spark.driver.extraJavaOptions`` passed the standard way follows it
    on the command line, so HotSpot applies the user's value.  Runs in
    its own process: driver options apply only to a new JVM."""
    user = "-XX:CompileThresholdScaling=2"
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_DRIVER_MEMORY="1g",
               PYSPARK_SUBMIT_ARGS=(f"--conf spark.driver.extraJavaOptions="
                                    f"{user} pyspark-shell"))
    proc = subprocess.run([sys.executable, "-c", ARGS_SCRIPT], cwd=ROOT,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("RESULT ")][-1]
    out = json.loads(line[len("RESULT "):])
    args = out["args"]
    assert _JIT_OPTS in args and user in args
    assert args.index(_JIT_OPTS) < args.index(user)
    assert float(out["scaling"]) == 2.0


def test_jvm_counters_grow_with_a_query(spark):
    before = jvm_counters(spark)
    assert set(before) == {"jit_ms", "gc_ms", "codegen_classes"}
    assert all(isinstance(v, int) and v >= 0 for v in before.values())
    spark.range(50_000).selectExpr("id % 7 AS k", "id * 3 AS v") \
        .groupBy("k").sum("v").collect()
    after = jvm_counters(spark)
    assert all(v >= 0 for v in after.values())
    assert after["jit_ms"] >= before["jit_ms"]
    assert after["codegen_classes"] >= before["codegen_classes"]


def test_iterative_plan_reuses_its_generated_classes(spark):
    """A MinHash + connected-components run generates about 100 distinct
    whole-stage classes; the codegen cache ``get_spark`` sizes holds them
    all, so once warm, a rerun compiles none (Spark's default of 100
    entries recompiled a quarter of them on every run)."""
    from pyspark.sql import functions as F

    from m3spark.ops import dedup_clusters, minhash_pairs

    words = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(words[i // 3:i // 3 + 12]) + f" tail{i % 3}")
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        pairs = minhash_pairs(docs, "doc_id", "text", num_hashes=32,
                              bands=8, hash_fn="portable")
        return dedup_clusters(pairs.where(F.col("est_jaccard") >= 0.5))

    for _ in range(2):
        run().collect()
    before = jvm_counters(spark)
    assert len(run().collect()) == 300
    assert jvm_counters(spark)["codegen_classes"] == before["codegen_classes"]


def test_no_program_reads_the_removed_java_opts_variable():
    """JVM flags are tried through Spark's own ``extraJavaOptions``; the
    package's former environment hook for them is gone everywhere."""
    name = "M3SPARK_" + "JAVA_OPTS"
    hits = [str(p.relative_to(ROOT)) for pattern in ("*.py", "*.sh")
            for p in ROOT.rglob(pattern)
            if ".git" not in p.parts and name in p.read_text(errors="ignore")]
    assert hits == []

"""The JVM defaults ``get_spark`` sets, the compilation-layer counters
``jvm_counters`` reads, and the Python worker daemon of ``local[...]``
sessions (``m3spark._pydaemon``)."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import SparkSession

from m3spark._pydaemon import worker_path
from m3spark.session import _JIT_OPTS, get_spark, jvm_counters

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


# ---- the Python worker daemon ----


def _zip(path: pathlib.Path, members: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    return str(path)


def _spark_home(tmp_path, tree_version="4.1.2"):
    """A ``SPARK_HOME`` whose ``python/lib`` holds pyspark.zip, a py4j
    zip and whose ``jars`` hold a class-only jar; ``tree_version`` None
    leaves out the ``python/pyspark`` source tree."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    pyzip = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__ = '4.1.2'\n"})
    py4j = _zip(lib / "py4j-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(home / "jars" / "spark-core.jar", {
        "META-INF/MANIFEST.MF": "", "org/apache/spark/SparkContext.class": ""})
    if tree_version is not None:
        tree = home / "python" / "pyspark"
        tree.mkdir(parents=True)
        (tree / "version.py").write_text(
            f"__version__ = {tree_version!r}\n")
    broken = home / "jars" / "truncated.jar"
    broken.write_bytes(b"PK\x03\x04")
    return str(home), [str(tmp_path / "userfiles"), pyzip, py4j, jar,
                       str(ROOT), "/nonexistent/lib.zip", str(broken)]


def test_worker_path_swaps_the_zip_and_drops_the_jar(tmp_path):
    home, path = _spark_home(tmp_path)
    out = worker_path(path, home)
    assert out == [path[0], os.path.join(home, "python"), path[2], path[4],
                   path[5], path[6]]
    assert path[1] not in out and path[3] not in out


@pytest.mark.parametrize("case", ["no source tree", "version differs"])
def test_worker_path_keeps_a_zip_it_cannot_match(tmp_path, case):
    home, path = _spark_home(
        tmp_path, tree_version=None if case == "no source tree" else "4.0.0")
    assert worker_path(path, home) == [p for p in path if p != path[3]]


def test_worker_path_without_a_spark_zip(tmp_path):
    """A pip-style ``SPARK_HOME`` (no ``python/lib/pyspark.zip``), or none
    at all: only the class-only jar leaves the path, and a file that
    reads as no archive stays."""
    home, path = _spark_home(tmp_path)
    pip_home = tmp_path / "site-packages" / "pyspark"
    (pip_home / "python" / "pyspark").mkdir(parents=True)
    (pip_home / "python" / "pyspark" / "version.py").write_text(
        "__version__ = '4.1.2'\n")
    kept = [p for p in path if p != path[3]]
    assert worker_path(path, str(pip_home)) == kept
    assert worker_path(path, None) == kept
    assert worker_path(kept, str(pip_home)) == kept


def test_daemon_module_is_a_local_mode_default(monkeypatch):
    """``local-cluster`` executors keep Spark's own daemon: their pyFiles
    reach a worker only with its first task."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    monkeypatch.setattr("jobs.package.build", lambda: "m3spark.zip")
    local = get_spark("opts", cores=1)
    assert local["spark.python.daemon.module"] == "m3spark._pydaemon"
    assert local["spark.executorEnv.PYTHONPATH"] == str(ROOT)
    cluster = get_spark("opts", cores=1, executors=2)
    assert "spark.python.daemon.module" not in cluster
    assert "spark.executorEnv.PYTHONPATH" not in cluster


def test_workers_import_pyspark_from_the_source_tree(spark):
    def worker_imports(it):
        import importlib
        import time

        import pandas as pd
        import pyspark

        t0 = time.process_time()
        importlib.invalidate_caches()
        cpu = time.process_time() - t0
        zips = sorted(k for k, v in sys.path_importer_cache.items()
                      if type(v).__name__ == "zipimporter")
        for _ in it:
            yield pd.DataFrame({"out": [json.dumps({
                "file": pyspark.__file__, "version": pyspark.__version__,
                "spark_home": os.environ.get("SPARK_HOME"),
                "zips": zips, "invalidate_s": cpu})]})

    (row,) = spark.range(1, numPartitions=1) \
        .mapInPandas(worker_imports, "out string").collect()
    got = json.loads(row.out)
    tree = os.path.realpath(os.path.join(got["spark_home"], "python"))
    if not os.path.isdir(os.path.join(tree, "pyspark")):
        pytest.skip("this Spark install ships no python/pyspark tree")
    assert os.path.realpath(got["file"]).startswith(tree + os.sep)
    assert got["version"] == spark.version
    assert not [z for z in got["zips"]
                if "pyspark.zip" in z or ".jar" in z], got["zips"]
    # about 0.1 s with pyspark.zip and the Spark jar on the path
    assert got["invalidate_s"] < 0.005


UDF_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import functions as F
from m3spark.session import get_spark

spark = get_spark("m3spark-udf-from-tmp", cores=1)

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

rows = spark.range(5).select(plus_one("id").alias("v")).collect()
print("RESULT", sorted(r.v for r in rows))
spark.stop()
"""


def test_pandas_udf_from_a_driver_outside_the_checkout(tmp_path):
    """The daemon module is found through ``spark.executorEnv.PYTHONPATH``
    when the driver runs elsewhere and has m3spark only on ``sys.path``;
    without it every Python task failed with "Error from python
    worker"."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run([sys.executable, "-c", UDF_SCRIPT, str(ROOT)],
                          cwd=tmp_path, env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT [1, 2, 3, 4, 5]" in proc.stdout

"""Python worker daemon for ``local[...]`` sessions: Spark's own
``pyspark.daemon`` over a ``sys.path`` that does not import pyspark from
a zip archive.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task, and on CPython 3.11 each ``zipimporter`` re-reads its archive's
central directory then: with ``$SPARK_HOME/python/lib/pyspark.zip`` and
the Spark core jar on the worker path that cost 0.1 s of CPU per task
(see ``m3spark/session.py``).
``get_spark`` starts this module as ``spark.python.daemon.module``; it
imports nothing of pyspark before editing the path.
"""

from __future__ import annotations

import os
import pathlib
import runpy
import sys
import zipfile


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` with ``$SPARK_HOME/python/lib/pyspark.zip`` replaced by
    ``$SPARK_HOME/python`` when that tree holds the same
    ``pyspark/version.py``, and with every zip archive that holds no
    Python source or bytecode (the Spark jar) dropped."""
    tree = os.path.join(spark_home, "python") if spark_home else None
    zipped = tree and os.path.realpath(
        os.path.join(tree, "lib", "pyspark.zip"))
    version = tree and os.path.join(tree, "pyspark", "version.py")
    out = []
    for entry in path:
        if entry.endswith((".zip", ".jar")):
            try:
                with zipfile.ZipFile(entry) as z:
                    names = z.NameToInfo
                    if os.path.realpath(entry) == zipped:
                        if (os.path.isfile(version)
                                and "pyspark/version.py" in names
                                and z.read("pyspark/version.py")
                                == pathlib.Path(version).read_bytes()):
                            entry = tree
                    elif not any(n.endswith((".py", ".pyc")) for n in names):
                        continue
            except (OSError, zipfile.BadZipFile):  # no archive: keep as is
                pass
        out.append(entry)
    return out


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    # finding this module built zipimporters for the old entries
    sys.path_importer_cache.clear()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

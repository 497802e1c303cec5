"""In-process interleaved A/B of the interpreter (``m3spark.schema``)
between the CURRENT tree and a git ref.

    python tools/ab_interp.py <ref> [seed ...]      # default seeds 704 905

The ref's committed ``m3spark/schema/`` package is unpacked with
``git archive`` outside the repository and imported under another
module name (``ref_m3spark_schema``) beside this tree's
``m3spark.schema``.  Its relative imports (``core``, ``jsontypes``,
``formats``, ``uris``) load the ref's files; its absolute
``m3spark.schema.*`` imports (meta-schemas, vocabularies, ECMA regex
translation, IDNA) resolve to this tree's.

Both sides compile the benchmark's ``DOC_SCHEMA`` with format assertion
on and validate the seeded ``perfbench.inputs.json_docs`` documents of
each seed (24,000 per seed, the ``json_interp`` workload's input), parsed
once, in 1,000-document chunks.  The sides alternate per chunk (ABBA),
so drift of the host's speed lands on both.  Separate processes on one
4-vCPU VM read 110 to 200 µs/doc for the same tree; in one process the
per-chunk ratio is stable to a few percent.

Prints one JSON line: per-side median µs/doc (process CPU time), and
the median with quartiles of the per-chunk ratio current/ref.  Exits 1
unless both sides return identical ``(valid, errors + warnings +
infos)`` lists, every violation field and the order included.
"""

from __future__ import annotations

import importlib.util
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from m3spark import schema as cur_schema  # noqa: E402
from perfbench.inputs import DOC_SCHEMA, json_docs  # noqa: E402

DOCS_PER_SEED = 24_000
CHUNK = 1_000


def _load_ref(ref: str, into: str):
    """The ``m3spark/schema`` package of ``ref``, imported as
    ``ref_m3spark_schema`` from a ``git archive`` under ``into``."""
    archive = subprocess.run(["git", "archive", ref, "m3spark/schema"],
                             cwd=ROOT, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", into], input=archive, check=True)
    pkg = Path(into) / "m3spark" / "schema"
    spec = importlib.util.spec_from_file_location(
        "ref_m3spark_schema", pkg / "__init__.py",
        submodule_search_locations=[str(pkg)])
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def _outputs(cs, docs):
    """Per document: (valid, [violation fields...]), and the CPU seconds
    the validation took."""
    out = []
    t0 = time.process_time()
    for d in docs:
        r = cs.validate(d)
        out.append((r.valid, r.errors + r.warnings + r.infos))
    secs = time.process_time() - t0
    return [(v, [(e.keyword, e.schema_path, e.doc_path, e.message,
                  e.level, e.value) for e in es]) for v, es in out], secs


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    ref = sys.argv[1]
    seeds = [int(s) for s in sys.argv[2:]] or [704, 905]
    tmp = tempfile.mkdtemp(prefix="ab_interp_")
    try:
        ref_schema = _load_ref(ref, tmp)
        sides = {"ref": ref_schema.compile_schema(DOC_SCHEMA,
                                                  format_assertion=True),
                 "cur": cur_schema.compile_schema(DOC_SCHEMA,
                                                  format_assertion=True)}
        us = {"ref": [], "cur": []}
        ratios, mismatches, n_docs = [], 0, 0
        k = 0
        for seed in seeds:
            docs = [json.loads(s) for s in json_docs(seed, DOCS_PER_SEED)[0]]
            for i in range(0, len(docs), CHUNK):
                chunk = docs[i:i + CHUNK]
                order = ("ref", "cur") if k % 2 == 0 else ("cur", "ref")
                k += 1
                got, secs = {}, {}
                for side in order:
                    got[side], secs[side] = _outputs(sides[side], chunk)
                for side in secs:
                    us[side].append(secs[side] / len(chunk) * 1e6)
                ratios.append(secs["cur"] / secs["ref"])
                mismatches += sum(a != b for a, b in zip(got["ref"],
                                                         got["cur"]))
                n_docs += len(chunk)
        q1, med, q3 = statistics.quantiles(ratios, n=4)
        print(json.dumps({
            "ref": ref, "seeds": seeds, "docs": n_docs,
            "chunks": len(ratios),
            "ref_us_per_doc": round(statistics.median(us["ref"]), 1),
            "cur_us_per_doc": round(statistics.median(us["cur"]), 1),
            "ratio_median": round(med, 3),
            "ratio_q1": round(q1, 3), "ratio_q3": round(q3, 3),
            "mismatched_docs": mismatches,
        }), flush=True)
        if mismatches:
            sys.exit(1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Traced-run probes of the layers that neither timed workload runs:
``m3spark.ops`` (MinHash pairs, duplicate clusters, cosine top-k),
``checks.referential``, ``checks.drift`` and the columnar content
keywords.

Each probe builds one small table from the run's seed, calls one public
function, collects its result, and checks it against an expectation
computed here from the planting bookkeeping with NumPy.  The time from
the call to the end of the collect is reported as ``leaf.<name>_s``.
The probes run once, after the measured ops, in a warm session.
"""

from __future__ import annotations

import base64
import json
import time

import numpy as np

LEAF_ROWS = 2000
RATE_DUP_DOC = 0.02      # document text copied from an earlier document
RATE_ORPHAN = 0.01       # foreign key with no row in the dimension
RATE_NULL_FK = 0.005     # NULL foreign key: not a violation
VEC_DIM = 16
TOP_K = 10
EVENT_TYPES = ["view", "click", "cart", "buy", "share"]
CONTENT_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "properties": {"payload": {
        "type": "string",
        "contentEncoding": "base64",
        "contentMediaType": "application/json",
        "contentSchema": {
            "type": "object", "required": ["port"],
            "properties": {"port": {"type": "integer", "minimum": 1}}}}},
}


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


# planted content defects, 1% each, and the keyword each one violates
CONTENT_DEFECTS = {
    "contentEncoding": "!!not base64!!",
    "contentMediaType": _b64("{not json"),
    "minimum": _b64(json.dumps({"port": 0})),
    "required": _b64(json.dumps({"name": "svc"})),
    "type": _b64(json.dumps({"port": "http"})),
}


def _rng(seed: int, k: int):
    return np.random.default_rng([seed, LEAF_ROWS, 100 + k])


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _run(rec, tr, name: str, probe):
    """Run one probe: ``probe()`` returns ``(seconds, ok)``."""
    try:
        seconds, ok = probe()
    except Exception as e:  # a probe that raises counts as failed
        print(f"perfbench: leaf {name} raised: {e!r}", flush=True)
        seconds, ok = 0.0, False
    tr.count(f"leaf.{name}_s", seconds)
    rec.check(f"leaf {name} output", ok)


def dedup_probes(spark, seed: int):
    """MinHash candidate pairs, then duplicate clusters, over documents
    of random tokens of which ``RATE_DUP_DOC`` copy an earlier text."""
    from pyspark.sql import functions as F

    from m3spark.ops import dedup_clusters, minhash_pairs

    rng = _rng(seed, 0)
    texts = [" ".join(f"t{x}" for x in rng.integers(0, 100_000, n))
             for n in rng.integers(40, 80, LEAF_ROWS)]
    for i in np.flatnonzero(rng.random(LEAF_ROWS) < RATE_DUP_DOC):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    groups: dict = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    want_pairs = {(a, b) for g in groups.values()
                  for a in g for b in g if a < b}
    want_clusters = {i: (min(g), i == min(g)) for g in groups.values()
                     if len(g) > 1 for i in g}
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")

    made = {}

    def pairs_probe():
        t0 = time.perf_counter()
        made["pairs"] = minhash_pairs(docs, "doc_id", "text")
        got = (made["pairs"].where(F.col("est_jaccard") >= 0.5)
               .select("id_a", "id_b").collect())
        s = time.perf_counter() - t0
        return s, {(r[0], r[1]) for r in got} == want_pairs

    def clusters_probe():
        # clusters of the pairs above, whose signatures are still cached
        pairs = made.pop("pairs")
        try:
            got, s = _timed(lambda: dedup_clusters(
                pairs.where(F.col("est_jaccard") >= 0.5)).collect())
        finally:
            # the release minhash_pairs documents
            pairs.cached_sigs.unpersist()
        return s, {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
                   for r in got} == want_clusters

    return {"minhash_pairs": pairs_probe, "dedup_clusters": clusters_probe}


def similarity_probe(spark, seed: int):
    """Exact cosine top-k against the first vector."""
    from m3spark.ops import cosine_topk

    vecs = _rng(seed, 1).standard_normal((LEAF_ROWS, VEC_DIM))
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit[0]
    want = list(np.argsort(-cos, kind="stable")[:TOP_K])
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vecs)],
                               "vec_id long, v array<double>")

    def probe():
        got, s = _timed(lambda: cosine_topk(df, "v", vecs[0].tolist(),
                                            TOP_K).collect())
        ok = ([r["vec_id"] for r in got] == want
              and all(abs(r["cosine"] - cos[r["vec_id"]]) < 1e-5
                      for r in got))
        return s, ok

    return {"cosine_topk": probe}


def referential_probe(spark, seed: int):
    """Line items whose order key has no order (shuffle anti-join)."""
    from m3spark.checks import referential_violations

    rng = _rng(seed, 2)
    n_fact = 3 * LEAF_ROWS
    fk = rng.integers(0, LEAF_ROWS, n_fact)
    u = rng.random(n_fact)
    orphan = u < RATE_ORPHAN
    fk[orphan] = LEAF_ROWS + rng.integers(0, LEAF_ROWS, int(orphan.sum()))
    null = (u >= RATE_ORPHAN) & (u < RATE_ORPHAN + RATE_NULL_FK)
    fact = spark.createDataFrame(
        [(i, None if null[i] else int(fk[i])) for i in range(n_fact)],
        "line_id long, o_orderkey long")
    dim = spark.createDataFrame([(k,) for k in range(LEAF_ROWS)],
                                "o_orderkey long")

    def probe():
        got, s = _timed(lambda: referential_violations(
            fact, dim, "o_orderkey", broadcast_dim=False)
            .select("line_id").collect())
        return s, {r[0] for r in got} == set(np.flatnonzero(orphan).tolist())

    return {"referential": probe}


def drift_probe(spark, seed: int):
    """PSI of the event-type mix between the two halves of a time range,
    with the mix shifted in the second half."""
    from pyspark.sql import functions as F

    from m3spark.checks.drift import psi_split

    rng = _rng(seed, 3)
    late = rng.random(LEAF_ROWS) < 0.5
    early_p = np.array([0.5, 0.2, 0.15, 0.1, 0.05])
    late_p = np.array([0.4, 0.25, 0.15, 0.12, 0.08])
    kind = np.where(late, rng.choice(5, LEAF_ROWS, p=late_p),
                    rng.choice(5, LEAF_ROWS, p=early_p))
    ev = spark.createDataFrame(
        [(int(t), EVENT_TYPES[k]) for t, k in zip(late, kind)],
        "late int, event_type string")
    # psi_split compares the predicate's true side (current) with its
    # false side (baseline); zero proportions are floored at 1e-6
    p = np.maximum(np.bincount(kind[~late], minlength=5) / (~late).sum(),
                   1e-6)
    q = np.maximum(np.bincount(kind[late], minlength=5) / late.sum(), 1e-6)
    want = float(np.sum((p - q) * np.log(p / q)))

    def probe():
        got, s = _timed(lambda: psi_split(ev, "event_type",
                                          F.col("late") == 0).collect())
        return s, abs(got[0]["psi"] - want) <= 1e-9 * max(1.0, want)

    return {"drift_psi": probe}


def content_probe(spark, seed: int):
    """Columnar content keywords: base64 JSON payloads with one planted
    defect in each of 5% of rows."""
    from m3spark.columnar import ColumnarValidator

    rng = _rng(seed, 4)
    kinds = list(CONTENT_DEFECTS)
    u = rng.random(LEAF_ROWS)
    rows, want = [], set()
    for i in range(LEAF_ROWS):
        k = int(u[i] * 100)
        if k < len(kinds):
            rows.append((i, CONTENT_DEFECTS[kinds[k]]))
            want.add((i, kinds[k]))
        else:
            rows.append((i, _b64(json.dumps(
                {"name": "svc", "port": int(rng.integers(1, 65536))}))))
    df = spark.createDataFrame(rows, "id long, payload string")

    def probe():
        cv = ColumnarValidator(CONTENT_SCHEMA)
        got, s = _timed(lambda: cv.violation_rows(df, "id")
                        .select("id", "keyword").collect())
        return s, {(r[0], r[1]) for r in got} == want

    return {"content_keywords": probe}


def run_all(spark, rec, tr, seed: int):
    """All probes, each reported as ``leaf.<name>_s`` and checked."""
    for build in (dedup_probes, similarity_probe, referential_probe,
                  drift_probe, content_probe):
        for name, probe in build(spark, seed).items():
            _run(rec, tr, name, probe)

"""Physical-plan hygiene audit: for every queries() entry, count
Exchanges (shuffles), Python eval nodes, broadcast joins, and whether
the scan is whole-stage-codegen'd.  Writes PLANS.md.

The point (SURVEY.md §4): validation itself must stay a shuffle-free
JVM Project; shuffles may appear only where the operator semantically
requires a keyed exchange (groupBy/join/window/topk), and Python only
in the explicitly-interpreted or Arrow-batched operators.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.01"

# queries whose semantics REQUIRE a shuffle (keyed agg/join/window/sort)
EXPECTED_SHUFFLES = {
    "uniqueness_documents", "ref_orders_without_lineitems",
    "ref_lineitem_orphans", "stats_documents", "stats_events_daily",
    "drift_events_psi", "drift_events_ks", "dedup_exact_documents",
    "dedup_jaccard_documents", "dedup_embedding_pairs_baseline",
    "sim_topk_embeddings", "minhash_pairs_documents",
    "minhash_pairs_fast",
    "lsh_ann_embeddings", "ann_ivf_embeddings", "pages_validate",
    "hll_stats_events", "dedup_embedding_lsh",
    "dedup_substring_documents", "dedup_passage_fraction_documents",
    # connected components: per-round keyed window + distinct (the
    # audited plan is the post-fixpoint labels read, already collapsed)
    "dedup_clusters_documents",
    # r8: widen_partitions raises Python-stage parallelism when the
    # scan yields fewer splits than cores — a round-robin exchange
    # that is a no-op at real scale (ops/repart.py); it shows as one
    # Exchange at the tiny audit SF
    "simhash_documents", "ann_ivf_fixed_embeddings",
    "ann_ivf_fixed_persisted",
    "multimodal_features", "multimodal_image_headers",
    "multimodal_pixel_stats", "multimodal_jpeg_stats",
    "multimodal_audio_stats",
}
# queries that legitimately cross into Python (Arrow-batched)
EXPECTED_PYTHON = {"multimodal_features",
                   "multimodal_image_headers",
                   # vectorized matmul LSH hashing (lsh_buckets_arrow)
                   "dedup_embedding_lsh", "lsh_ann_embeddings",
                   # full pixel/sample decode (declared Arrow stages)
                   "multimodal_pixel_stats", "multimodal_jpeg_stats",
                   "multimodal_audio_stats",
                   # r8 Arrow-vectorized hot paths (guide §4.2): per-doc
                   # minhash signatures / gram entries / simhash votes,
                   # IVF codebook assignment + candidate cosine scoring
                   "minhash_pairs_documents", "minhash_pairs_fast",
                   "dedup_substring_documents",
                   "dedup_passage_fraction_documents",
                   "dedup_clusters_documents", "simhash_documents",
                   "ann_ivf_embeddings", "ann_ivf_fixed_embeddings",
                   "ann_ivf_fixed_persisted"}


def _count_executing_exchanges(plan: str) -> int:
    """Count shuffles that actually execute for this query.

    Plan strings reprint a persisted relation's ENTIRE cache-fill plan
    under every `InMemoryRelation` consumer (with fresh expression ids),
    although that lineage runs once at cache fill.  So: count Exchange
    nodes OUTSIDE InMemoryRelation subtrees normally, and add each
    distinct cached subtree's exchanges exactly once (normalizing the
    per-print ids before deduping)."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        i = ln.find("+- ")
        return i if i >= 0 else -1

    outside: list[str] = []
    blocks: list[str] = []
    i = 0
    while i < len(lines):
        ln = lines[i]
        if "InMemoryRelation" in ln:
            d = depth(ln)
            block = []
            i += 1
            while i < len(lines):
                d2 = depth(lines[i])
                if 0 <= d2 <= d:
                    break
                block.append(lines[i])
                i += 1
            blocks.append("\n".join(block))
            continue
        outside.append(ln)
        i += 1
    n = len(re.findall(r"\bExchange\b", "\n".join(outside)))
    seen = set()
    for b in blocks:
        # normalize per-print ids AND tree-connector indentation (the
        # same cached plan prints at a different tree depth per consumer)
        key = "\n".join(
            re.sub(r"#\d+[A-Za-z]?|plan_id=\d+", "",
                   re.sub(r"^[\s:+|-]*", "", ln))
            for ln in b.splitlines())
        if key in seen:
            continue
        seen.add(key)
        # an AQE cache-fill prints both "== Final Plan ==" and
        # "== Initial Plan ==" copies; only the final one executed
        fill = b.split("== Initial Plan ==")[0]
        n += len(re.findall(r"\bExchange\b", fill))
    return n


def _audit_pruned_scan(spark, problems):
    """Write a crawl-day-partitioned pages table, bound a validation to
    3 of its 30 days, and record the PartitionFilters evidence."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from m3spark.pages import PAGES_SCHEMA, generate_pages
    from m3spark.pipeline import validate_pages
    from m3spark.tables import read_pages, write_pages

    d = tempfile.mkdtemp(prefix="plan_audit_pruning_")
    try:
        tgt = f"{d}/pages"
        pcol = write_pages(generate_pages(spark, 50_000), tgt)
        pages = read_pages(spark, tgt)
        days = [r[0] for r in pages.select(pcol).distinct()
                                 .orderBy(pcol).limit(3).collect()]
        bounded = pages.where(F.col(pcol).isin(days))
        res = validate_pages(bounded, schema=PAGES_SCHEMA,
                             partition_expr=pcol, with_uniqueness=False)
        res["partition_verdicts"].count()
        plan = (res["partition_verdicts"]._jdf.queryExecution()
                .executedPlan().toString())
        m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
        pf = m.group(1) if m else None
        if not pf or pcol not in pf:
            problems.append(
                "pages_validate_day_bounded: day predicate missing from "
                "PartitionFilters (pruning NOT happening)")
        return [
            "## Pruned scan (day-bounded validation over the "
            "crawl-day-partitioned table)",
            "",
            "3-of-30-day validation over the `write_pages` layout (the",
            "Iceberg stand-in; Iceberg hidden partitioning gives the same",
            "pruning from `days(warc_ts)`).  The scan node carries the day",
            "predicate as a PartitionFilter — pruning happens at planning,",
            "before any IO (execution-level proof: the corruption canary in",
            "tests/test_partition_pruning.py — all other days' files are",
            "garbage and the bounded job still succeeds):",
            "",
            f"    PartitionFilters: [{pf}]",
            "",
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def audit():
    import __spark_entry__ as entrymod
    from m3spark.session import get_spark

    spark = get_spark("plan-audit", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    problems = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, SF)
            df.count()  # execute so AQE finalizes the plan (codegen ids)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: plan error {type(e).__name__}: {e}")
            continue
        n_ex = _count_executing_exchanges(plan)
        n_py = len(re.findall(r"(BatchEvalPython|ArrowEvalPython|"
                              r"MapInPandas|FlatMapGroupsInPandas)", plan))
        n_bc = len(re.findall(r"BroadcastHashJoin|BroadcastExchange", plan))
        # codegen'd operators print as "*(n) Operator" in plan strings
        codegen = re.search(r"\*\(\d+\)", plan) is not None
        rows.append((name, n_ex, n_py, n_bc, codegen))
        if n_ex and name not in EXPECTED_SHUFFLES:
            problems.append(f"{name}: unexpected shuffle ({n_ex} Exchange)")
        if n_py and name not in EXPECTED_PYTHON:
            problems.append(f"{name}: unexpected Python stage")

    # pruned-scan variant: day-bounded validation over the crawl-day
    # partitioned table (the Iceberg stand-in) — record the
    # PartitionFilters evidence (SURVEY §4 partition pruning row)
    pruning_lines = _audit_pruned_scan(spark, problems)
    spark.stop()

    lines = [
        "# PLANS — physical-plan hygiene audit (tools/plan_audit.py)",
        "",
        "Every `queries()` entry, audited at sf0.01.  Validation queries",
        "must be shuffle-free JVM Projects; shuffles appear only where the",
        "operator is a keyed agg/join/top-k; Python only in the two",
        "Arrow-batched operators (interpreter + multimodal decode).",
        "",
        "`codegen` = whole-stage-codegen markers visible in the plan",
        "string; queries wrapped in AdaptiveSparkPlan (any with a",
        "shuffle/join) only materialize those markers once that exact",
        "plan object executes, so 'no' there means 'AQE-deferred', not",
        "'interpreted'.",
        "",
        "`shuffles` counts exchanges that EXECUTE: a persisted",
        "relation's cache-fill lineage is reprinted verbatim under every",
        "InMemoryRelation consumer in the plan string, but runs once, so",
        "each distinct cached subtree is counted exactly once",
        "(tools/plan_audit.py _count_executing_exchanges).",
        "",
        "| query | shuffles | python stages | broadcasts | codegen |",
        "|---|---|---|---|---|",
    ]
    for name, n_ex, n_py, n_bc, cg in rows:
        lines.append(f"| {name} | {n_ex} | {n_py} | {n_bc} | "
                     f"{'yes' if cg else 'no'} |")
    lines.append("")
    lines += pruning_lines
    if problems:
        lines.append("## Violations")
        lines += [f"- {p}" for p in problems]
    else:
        lines.append("No hygiene violations: zero unexpected shuffles, "
                     "zero unexpected Python stages.")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(problems) if problems else "clean")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(audit())

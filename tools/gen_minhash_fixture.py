"""Generate the xxhash64 MinHash signature fixture for the driver's
plain-SQL oracle gate on `minhash_pairs_fast`.

The production MinHash twin hashes shingles with Spark's xxhash64,
which plain DuckDB SQL cannot compute — so until r6 the driver gate
could only do a rows-only check.  This script closes that gap with a
PRECOMPUTED EXPECTATION FIXTURE: it recomputes every per-(doc, salt)
min-hash signature value from the sf0.01 parquet text in pure Python —
shingling reimplemented here, hashing via the JVM-parity-pinned XXH64
mirror (m3spark/ops/xxh64.py, pinned bit-for-bit against Spark by
tests/test_xxh64.py) — and writes (doc_id, j, hv) to
fixtures/minhash_sigs_sf0.01.parquet.  The oracle SQL then joins the
fixture and performs the ENTIRE banding -> candidate-join ->
signature-agreement pipeline in plain SQL (band key = the comma-joined
signature slice, equality-equivalent to Spark's bucket hash).

Nothing here touches Spark: the fixture is an independent
reimplementation, so a Spark-side bug in char_shingles /
minhash_signatures / banding turns the driver gate red.

Regenerate after any testdata refresh:
    python tools/gen_minhash_fixture.py [sf_dir] [out_parquet]
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from m3spark.ops.xxh64 import spark_xxhash64  # noqa: E402

K = 8          # shingle length  (char_shingles k)
STRIDE = 4     # shingle stride  (char_shingles stride)
NUM_HASHES = 32


def shingles(text: str) -> set[str]:
    """Mirror of ops.dedup.char_shingles: distinct substr(text, i, K)
    for 1-based i in 1..greatest(len-K+1, 1) step STRIDE (Spark's
    substring truncates at the end of the string)."""
    n = max(len(text) - (K - 1), 1)
    return {text[i:i + K] for i in range(0, n, STRIDE)}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = (sys.argv[2] if len(sys.argv) > 2
           else str(ROOT / "fixtures" / "minhash_sigs_sf0.01.parquet"))

    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text"])
    doc_ids, js, hvs = [], [], []
    for doc_id, text in zip(docs["doc_id"].to_pylist(),
                            docs["text"].to_pylist()):
        sh = shingles(text or "")
        for j in range(NUM_HASHES):
            hv = min(spark_xxhash64(s, j) for s in sh)
            doc_ids.append(doc_id)
            js.append(j)
            hvs.append(hv)

    table = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "j": pa.array(js, pa.int32()),
        "hv": pa.array(hvs, pa.int64()),
    })
    pq.write_table(table, out)
    print(f"wrote {table.num_rows} rows -> {out}")


if __name__ == "__main__":
    main()

"""Local replica of the driver's correctness gate: run each queries()
entry in Spark and its oracle_sql() in DuckDB at sf0.01, compare
row-count, column names, and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import math
import sys
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}" if v == v else "nan"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


_TYPE_ALIASES = {
    "bigint": "int64", "hugeint": "int128", "int": "int32",
    "integer": "int32", "smallint": "int16", "tinyint": "int8",
    "double": "float64", "float": "float32", "varchar": "string",
    "boolean": "bool", "date": "date", "timestamp": "timestamp",
    "number": "float64",  # duckdb dbapi type code for numerics
}


def _norm_type(t: str) -> str:
    t = t.lower().split("(")[0].strip()
    # duckdb dbapi description gives DBAPITypeObject strings like NUMBER
    for k, v in _TYPE_ALIASES.items():
        if k in t:
            return v
    return t


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


# UDF-backed oracles (r6): full-value mirrors the driver's plain-SQL
# DuckDB cannot run because they need a scalar UDF — here the pure-
# Python XXH64 mirror (m3spark/ops/xxh64.py, parity pinned by
# tests/test_xxh64.py) value-checks the production xxhash64 MinHash
# path end to end; the driver gate still records it rows-only.
UDF_ORACLES = {
    "minhash_pairs_fast": """
        WITH sh AS (
          SELECT DISTINCT doc_id, substr(text, i, 8) AS shingle
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 7, 1) + 1, 4))
                 AS t(i)),
        hs AS (
          SELECT doc_id, j, MIN(xxh64_str_int(shingle, CAST(j AS INT)))
                 AS hv
          FROM sh, UNNEST(range(0, 32)) AS u(j)
          GROUP BY doc_id, j),
        bandkey AS (
          SELECT doc_id, (j // 4) AS band,
                 xxh64_str('[' || string_agg(hv::VARCHAR, ', '
                                             ORDER BY j) || ']')
                 AS bucket
          FROM hs GROUP BY doc_id, band),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandkey a JOIN bandkey b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
        agree AS (
          SELECT c.id_a, c.id_b,
                 SUM(CASE WHEN ha.hv = hb.hv THEN 1 ELSE 0 END) AS n_eq
          FROM cand c
          JOIN hs ha ON ha.doc_id = c.id_a
          JOIN hs hb ON hb.doc_id = c.id_b AND hb.j = ha.j
          GROUP BY c.id_a, c.id_b)
        SELECT id_a, id_b, ROUND(n_eq / 32.0, 6) AS est_jaccard
        FROM agree
    """,
}


def main():
    import __spark_entry__ as entrymod
    from m3spark.ops.xxh64 import spark_xxhash64
    from m3spark.session import get_spark

    spark = get_spark("oracle-check", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF}/{t}.parquet')")
    con.create_function("xxh64_str_int",
                        lambda s, i: spark_xxhash64(s, i),
                        ["VARCHAR", "INTEGER"], "BIGINT")
    con.create_function("xxh64_str", lambda s: spark_xxhash64(s),
                        ["VARCHAR"], "BIGINT")

    qs = entrymod.queries()
    # real (driver-visible) oracles take precedence; the UDF twin
    # remains a fallback for queries with no plain-SQL oracle
    oracles = {**UDF_ORACLES, **entrymod.oracle_sql()}
    only = sys.argv[1:] or list(qs)
    n_fail = 0
    for name in only:
        if name not in qs:
            continue
        try:
            sdf = qs[name](spark, SF)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={scols} duck={dcols}")
        else:
            stypes = {f.name: _norm_type(f.dataType.simpleString())
                      for f in sdf.schema.fields}
            dtypes = {c: _norm_type(str(t))
                      for c, t in zip(rel.columns, rel.types)}
            tmism = {c: (stypes[c], dtypes[c]) for c in stypes
                     if stypes[c] != dtypes[c]}
            if tmism:
                problems.append(f"dtype mismatch {tmism}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            hs = value_hash(srows, scols)
            hd = value_hash(drows, dcols)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show first differing normalized lines
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s)
                            for r in srows)
                ld = sorted("\x1f".join(norm_cell(r[i]) for i in order_d)
                            for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        problems.append(f"  spark: {a[:120]}")
                        problems.append(f"  duck : {b[:120]}")
                        break
        if problems:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(problems[:3]))
            for p in problems[3:]:
                print(p)
        else:
            print(f"OK   {name}: {len(srows)} rows")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

"""Seeded benchmark inputs and their independently computed expectations.

Every input is a pure function of ``(seed, size)`` and is cached on disk
under ``perfbench/work/inputs/<hash of this file>`` so that repeated
runs with one seed pay generation once.  Generation uses NumPy and
PyArrow only: the program under test never sees the seed, only the
parquet files.

``m3spark.pages.generate_pages`` is not used because it hard-codes its
hash seed; the pages table here has the same shape and the same planted
anomaly rates (FIXTURES.md section 1), drawn from a seeded NumPy
generator instead of a row-id hash.

Expectations are computed without m3spark: the pages verdicts by DuckDB
SQL over the written parquet, the JSON verdicts from the planting
bookkeeping.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
# keyed by this file's source too, so a changed generator or expectation
# never reuses inputs cached by an older one
with open(__file__, "rb") as _src:
    CACHE = os.path.join(HERE, "work", "inputs",
                         hashlib.sha256(_src.read()).hexdigest()[:12])

# -- pages ------------------------------------------------------------------

WORDS = (
    "data page web crawl index token table query spark schema value check "
    "valid error drift stat count hash join scan batch text lang html url "
    "node edge graph list tree byte word line time date rank site host path "
    "form link card feed item view post news shop game code file test suite"
).split()
LANGS = ["en", "de", "fr", "es", "zh", "ja", "pt", "ru"]
LANG_P = [0.48, 0.15, 0.12, 0.10, 0.08, 0.03, 0.025, 0.015]
EPOCH = 1717200000  # 2024-06-01T00:00:00Z
DAYS = 30

# planted anomaly rates, as in m3spark.pages
RATE_BAD_URL = 0.01      # space in the path -> format: uri
RATE_DUP_URL = 0.005     # url copied from the previous row -> uniqueness
RATE_EMPTY_TEXT = 0.01   # "" -> minLength: 1
RATE_EMOJI = 0.002       # astral-plane suffix -> codepoint length
RATE_BAD_LANG = 0.005    # "xx" -> enum

HTML_PREFIX = "<html><head><title>Page "
HTML_MID = "</title></head><body>"
HTML_SUFFIX = "</body></html>"


def _word_stream(rng, n_words: int):
    """One long space-separated word stream and each word's start offset,
    so that a row's text is a single slice of it."""
    idx = rng.integers(0, len(WORDS), n_words)
    words = np.array(WORDS, dtype=object)[idx]
    lens = np.fromiter((len(w) for w in WORDS), dtype=np.int64)[idx] + 1
    starts = np.concatenate([[0], np.cumsum(lens)])
    return " ".join(words) + " ", starts


def pages_table(seed: int, n_rows: int) -> pa.Table:
    """Pages-shaped table ``url, warc_ts, html, text, lang`` with the
    planted anomalies above, ~30% of rows on three hot domains."""
    rng = np.random.default_rng([seed, n_rows, 1])
    i = np.arange(n_rows)
    uid = np.where((rng.random(n_rows) < RATE_DUP_URL) & (i > 0), i - 1, i)
    bad_url = rng.random(n_rows) < RATE_BAD_URL  # indexed by uid
    dh = rng.random(n_rows)
    tail = rng.integers(0, 10000, n_rows)
    hot = ["hot-zero.example.com", "hot-one.example.com",
           "hot-two.example.com"]

    def domain(u):
        d = dh[u]
        if d < 0.15:
            return hot[0]
        if d < 0.25:
            return hot[1]
        if d < 0.30:
            return hot[2]
        return f"site-{tail[u]}.example.org"

    url = [f"https://{domain(u)}/{'bad path/' if bad_url[u] else 'p/'}{u}"
           for u in uid.tolist()]

    secs = rng.integers(0, DAYS * 86400, n_rows)
    warc_ts = pa.array((EPOCH + secs) * 1_000_000,
                       type=pa.timestamp("us", tz="UTC"))

    n_words = np.floor(2.0 ** (3.0 + 7.0 * rng.random(n_rows))).astype(
        np.int64)
    stream, starts = _word_stream(rng, int(n_words.sum()))
    ends = np.cumsum(n_words)
    begin = ends - n_words
    empty = rng.random(n_rows) < RATE_EMPTY_TEXT
    emoji = rng.random(n_rows) < RATE_EMOJI
    text = []
    for k, (b, e) in enumerate(zip(begin.tolist(), ends.tolist())):
        if empty[k]:
            text.append("")
            continue
        t = stream[starts[b]:starts[e] - 1]
        text.append(t + " \U0001F600" if emoji[k] else t)

    lang = np.array(LANGS, dtype=object)[
        rng.choice(len(LANGS), n_rows, p=LANG_P)]
    lang[rng.random(n_rows) < RATE_BAD_LANG] = "xx"

    html = [f"{HTML_PREFIX}{k}{HTML_MID}{t}{HTML_SUFFIX}".encode()
            for k, t in enumerate(text)]
    return pa.table({
        "url": pa.array(url, type=pa.string()),
        "warc_ts": warc_ts,
        "html": pa.array(html, type=pa.binary()),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(lang.tolist(), type=pa.string()),
    })


def _cached(name: str, build) -> str:
    """Directory ``CACHE/name``, built by ``build(tmp_dir)`` on first use
    (written to a temporary sibling and renamed, so a killed run never
    leaves a half-written input behind)."""
    path = os.path.join(CACHE, name)
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


def pages_by_day_input(seed: int, n_rows: int) -> tuple[str, dict]:
    """The pages table partitioned by crawl day (``warc_day=YYYY-MM-DD``,
    row groups of 8192 rows), the layout ``m3spark.tables.write_pages``
    produces, and its expected verdicts (kept beside the data in
    ``_expected.json``)."""
    def build(tmp):
        t = pages_table(seed, n_rows)
        day = pa.array(
            (t.column("warc_ts").cast(pa.int64()).to_numpy()
             // (86400 * 1_000_000)).astype("datetime64[D]"))
        t = t.append_column("warc_day", day.cast(pa.string()))
        pq.write_to_dataset(t, tmp, partition_cols=["warc_day"],
                            row_group_size=8192)
        with open(os.path.join(tmp, "_expected.json"), "w") as f:
            json.dump(pages_expected(tmp), f)
    path = _cached(f"pages-by-day-{seed}-{n_rows}", build)
    with open(os.path.join(path, "_expected.json")) as f:
        expected = json.load(f)
    expected["verdicts"] = {k: tuple(v)
                            for k, v in expected["verdicts"].items()}
    return path, expected


def pages_expected(path: str) -> dict:
    """Per-day verdicts of PAGES_SCHEMA recomputed in DuckDB SQL over the
    parquet at ``path``, plus the number of duplicated urls.

    ``format: uri`` is checked as "a scheme, then only RFC 3986
    characters", which decides every url this generator writes."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET threads = 2")
    langs = ", ".join(f"'{x}'" for x in LANGS)
    src = f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
    per_row = f"""
      SELECT CAST(warc_ts AS DATE) AS partition_key,
        (url IS NULL)::INT + (warc_ts IS NULL)::INT + (html IS NULL)::INT
        + (text IS NULL)::INT + (lang IS NULL)::INT
        + coalesce((NOT regexp_matches(url, '^https?://'))::INT, 0)
        + coalesce((length(url) > 2048)::INT, 0)
        + coalesce((NOT regexp_full_match(
              url, '[A-Za-z][A-Za-z0-9+.-]*:[A-Za-z0-9._~:/?#@!$&''()*+,;=%-]*'
          ))::INT, 0)
        + coalesce((length(text) < 1)::INT, 0)
        + coalesce((lang NOT IN ({langs}))::INT, 0) AS n_viol
      FROM {src}"""
    rows = con.sql(f"""
      SELECT partition_key, count(*) AS rows_scanned,
             sum((n_viol > 0)::BIGINT) AS invalid_rows,
             sum(n_viol)::BIGINT AS violation_count
      FROM ({per_row}) GROUP BY partition_key ORDER BY partition_key
    """).fetchall()
    dup_urls = con.sql(f"""
      SELECT count(*) FROM (SELECT url FROM {src}
                            GROUP BY url HAVING count(*) > 1)
    """).fetchone()[0]
    con.close()
    return {"verdicts": {str(d): (r, i, v) for d, r, i, v in rows},
            "dup_urls": int(dup_urls)}


# -- nested JSON documents ---------------------------------------------------

DOC_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$defs": {
        "tag": {"type": "string", "pattern": "^[a-z][a-z0-9-]{1,15}$"},
        "author": {
            "type": "object",
            "required": ["name", "email"],
            "properties": {
                "name": {"type": "string", "minLength": 1},
                "email": {"type": "string", "format": "email"},
            },
            "unevaluatedProperties": False,
        },
        "link": {
            "oneOf": [
                {"type": "object", "required": ["kind", "url"],
                 "properties": {"kind": {"const": "web"},
                                "url": {"type": "string",
                                        "format": "uri"}}},
                {"type": "object", "required": ["kind", "doi"],
                 "properties": {"kind": {"const": "doi"},
                                "doi": {"type": "string",
                                        "pattern": "^10\\.[0-9]{4,9}/\\S+$"}}},
            ],
        },
    },
    "type": "object",
    "required": ["id", "title", "author", "tags", "links", "created"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "title": {"type": "string", "minLength": 1, "maxLength": 200},
        "author": {"$ref": "#/$defs/author"},
        "tags": {"type": "array", "items": {"$ref": "#/$defs/tag"},
                 "uniqueItems": True, "maxItems": 8},
        "links": {"type": "array", "items": {"$ref": "#/$defs/link"}},
        "created": {"type": "string", "format": "date-time"},
        "stats": {
            "type": "object",
            "properties": {"views": {"type": "integer", "minimum": 0},
                           "score": {"type": "number"}},
            "additionalProperties": False,
        },
    },
    "unevaluatedProperties": False,
}

JSON_FILES = 8

# planted anomalies: each invalid document breaks exactly one rule
JSON_ANOMALIES = [
    ("email", 0.01),       # author.email fails format: email
    ("extra", 0.01),       # unknown top-level key -> unevaluatedProperties
    ("link", 0.01),        # web link without url -> oneOf matches none
    ("tag", 0.005),        # tag with an upper-case letter -> pattern
    ("created", 0.005),    # month 13 -> format: date-time
]


def json_docs(seed: int, n_docs: int) -> tuple[list[str], list[bool]]:
    """``n_docs`` JSON documents for DOC_SCHEMA and whether each is valid."""
    rng = np.random.default_rng([seed, n_docs, 2])
    kinds = [k for k, _ in JSON_ANOMALIES]
    p = [r for _, r in JSON_ANOMALIES]
    pick = rng.choice(len(kinds) + 1, n_docs, p=p + [1.0 - sum(p)])
    n_tags = rng.integers(0, 6, n_docs)
    n_links = rng.integers(1, 4, n_docs)
    r = rng.integers(0, 1 << 30, (n_docs, 8))
    docs, valid = [], []
    for k in range(n_docs):
        a = r[k].tolist()
        bad = kinds[pick[k]] if pick[k] < len(kinds) else None
        links = []
        for j in range(int(n_links[k])):
            if (a[j] >> 3) % 2:
                links.append({"kind": "web",
                              "url": f"https://site-{a[j] % 997}.example.org"
                                     f"/doc/{k}/{j}"})
            else:
                links.append({"kind": "doi",
                              "doi": f"10.{1000 + a[j] % 9000}/x{k}.{j}"})
        if bad == "link":
            links.append({"kind": "web", "title": "missing url"})
        tags = [f"t{a[3] % 50 + 10 * j}-{WORDS[(a[4] + j) % len(WORDS)]}"
                for j in range(int(n_tags[k]))]
        if bad == "tag":
            tags.append("Bad-Tag")
        doc = {
            "id": k,
            "title": " ".join(WORDS[(a[5] + j) % len(WORDS)]
                              for j in range(1 + a[5] % 12)),
            "author": {"name": f"author {a[6] % 5000}",
                       "email": (f"user{a[6] % 5000}@example.com"
                                 if bad != "email"
                                 else f"user{a[6] % 5000}.example.com")},
            "tags": tags,
            "links": links,
            "created": ("2024-13-01T00:00:00Z" if bad == "created" else
                        f"2024-{1 + a[7] % 12:02d}-{1 + a[7] % 28:02d}"
                        f"T{a[7] % 24:02d}:{a[7] % 60:02d}:00Z"),
        }
        if a[2] % 3:
            doc["stats"] = {"views": a[2] % 100000,
                            "score": round((a[2] % 1000) / 7.0, 3)}
        if bad == "extra":
            doc["draft"] = True
        docs.append(json.dumps(doc, separators=(",", ":")))
        valid.append(bad is None)
    return docs, valid


def json_input(seed: int, n_docs: int) -> tuple[str, int]:
    """Parquet ``(id: long, doc: string)`` and the planted invalid count
    (kept beside the data in ``_planted.json``, which Spark skips)."""
    def build(tmp):
        docs, valid = json_docs(seed, n_docs)
        t = pa.table({"id": pa.array(range(n_docs), pa.int64()),
                      "doc": pa.array(docs, pa.string())})
        # eight files: a 4-core scan of one small file would get too few
        # splits to keep four Python workers busy
        step = -(-n_docs // JSON_FILES)
        for k in range(JSON_FILES):
            pq.write_table(t.slice(k * step, step),
                           os.path.join(tmp, f"part-{k}.parquet"))
        with open(os.path.join(tmp, "_planted.json"), "w") as f:
            json.dump({"invalid": valid.count(False)}, f)
    path = _cached(f"json-{seed}-{n_docs}", build)
    with open(os.path.join(path, "_planted.json")) as f:
        return path, json.load(f)["invalid"]

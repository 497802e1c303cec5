"""The compiler's null-only decision (``ColumnarValidator.null_only``):
a binary column leaves the value scan only when its row presence
checks are all that read it and the caller does not carry it.  Decided
from the compiled checks over the table's dtypes; no Spark job runs."""

from __future__ import annotations

import pytest

from m3spark.columnar import ColumnarValidator
from m3spark.pages import PAGES_SCHEMA

PAGES = "url string, warc_ts timestamp, html binary, text string, lang string"
D3 = "http://json-schema.org/draft-03/schema#"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame([], PAGES)


@pytest.mark.parametrize("schema,carried,want", [
    (PAGES_SCHEMA, ("url",), ["html"]),
    (PAGES_SCHEMA, ("url", "html"), []),
    # a required inside allOf is a presence check of the row too
    ({"allOf": [{"required": ["html"]}], "required": ["url"]}, (),
     ["html"]),
    # draft 3 spells presence on the property schema
    ({"$schema": D3, "properties": {"html": {"required": True}}}, (),
     ["html"]),
    # a string column is never moved
    ({"required": ["url", "text"]}, (), []),
    # a column check names html
    ({"required": ["html"], "properties": {"html": {"maxLength": 5}}}, (),
     []),
    # a conditional required reads the `if` columns too
    ({"if": {"required": ["url"]}, "then": {"required": ["html"]}}, (), []),
    # row checks that read every column
    (dict(PAGES_SCHEMA, minProperties=2), (), []),
    (dict(PAGES_SCHEMA, additionalProperties=False), (), []),
    (dict(PAGES_SCHEMA, anyOf=[{"required": ["text"]}]), (), []),
], ids=["pages", "carried", "allOf", "draft3", "string", "column-check",
        "then-arm", "minProperties", "additionalProperties", "anyOf"])
def test_null_only_columns(pages, schema, carried, want):
    cv = ColumnarValidator(schema, format_assertion=True)
    assert cv.null_only(pages, carried) == want


def test_no_split_without_the_column(spark):
    """A required key the table lacks is a violation on every row, not a
    null-only column."""
    cv = ColumnarValidator(PAGES_SCHEMA, format_assertion=True)
    df = spark.createDataFrame([], PAGES.replace(" html binary,", ""))
    assert cv.null_only(df) == []

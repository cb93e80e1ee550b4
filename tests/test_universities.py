"""Parity unit tests for the universities pipeline (FIXTURES.md §2).

Each adversarial row pins a JS-truthiness semantic verified against
Node behavior in SURVEY.md §2a (reference server.js:65-97).
"""

from __future__ import annotations

import csv
import re

import pytest

from node_js_etl_processor_spark.plans.pipeline import transformed_iso
from node_js_etl_processor_spark.schemas import UNIVERSITIES_RAW_SCHEMA
from node_js_etl_processor_spark.sources.files import write_csv_export
from node_js_etl_processor_spark.universities import transform_universities

RAW_ROWS = [
    # 1. fully clean row — survives everything
    {
        "name": "Universidad de Costa Rica",
        "country": "Costa Rica",
        "state-province": "San José",
        "alpha_two_code": "CR",
        "domains": ["ucr.ac.cr"],
        "web_pages": ["https://www.ucr.ac.cr"],
    },
    # 2. name = null — dropped by F1
    {"name": None, "country": "X", "domains": ["d"], "web_pages": ["w"]},
    # 3. name = "" — dropped by F1 (JS: empty string falsy)
    {"name": "", "country": "X", "domains": ["d"], "web_pages": ["w"]},
    # 4. whitespace-only name — survives F1, trimmed to "" by P1, dies at F2
    {"name": "   ", "country": "X", "domains": ["d"], "web_pages": ["w"]},
    # 5. web_pages = [] — dropped by F1
    {"name": "NoPages U", "country": "X", "domains": ["d"], "web_pages": []},
    # 6. web_pages = null — dropped by F1
    {"name": "NullPages U", "country": "X", "domains": ["d"], "web_pages": None},
    # 7. domains missing — survives; domains → [], primary_domain → null
    {"name": "NoDomains U", "country": "X", "web_pages": ["https://nd.example"]},
    # 8. alpha_two_code = "" — output null (falsy ternary branch)
    {
        "name": "EmptyAlpha U",
        "country": "X",
        "alpha_two_code": "",
        "web_pages": ["w8"],
    },
    # 9. alpha_two_code = "  " — output "" (truthy pre-trim, trims to empty)
    {
        "name": "SpaceAlpha U",
        "country": "X",
        "alpha_two_code": "  ",
        "web_pages": ["w9"],
    },
    # 10. state-province null — state_province null; CSV coalesces to ""
    {
        "name": "NoState U",
        "country": "X",
        "state-province": None,
        "web_pages": ["w10"],
    },
    # 11. whitespace around name/country/elements — trimmed
    {
        "name": "  Padded U  ",
        "country": "  Padland  ",
        "domains": ["  pad.edu  "],
        "web_pages": ["  https://pad.example  "],
    },
    # 12. two domains — primary_domain is the first
    {
        "name": "TwoDomains U",
        "country": "X",
        "domains": ["a.edu", "b.edu"],
        "web_pages": ["https://t.example"],
    },
]


@pytest.fixture(scope="module")
def transformed(spark):
    raw = spark.createDataFrame(RAW_ROWS, UNIVERSITIES_RAW_SCHEMA)
    df = transform_universities(raw)
    return {r["name"]: r.asDict() for r in df.collect()}


def test_survivor_set(transformed):
    # rows 2-6 die (F1), row 4 dies at F2; the other 7 survive
    assert sorted(transformed) == [
        "EmptyAlpha U",
        "NoDomains U",
        "NoState U",
        "Padded U",
        "SpaceAlpha U",
        "TwoDomains U",
        "Universidad de Costa Rica",
    ]


def test_output_schema(spark):
    raw = spark.createDataFrame(RAW_ROWS, UNIVERSITIES_RAW_SCHEMA)
    df = transform_universities(raw)
    assert df.columns == [
        "name",
        "country",
        "state_province",
        "alpha_two_code",
        "domains",
        "web_pages",
        "primary_domain",
        "primary_website",
        "last_updated",
    ]
    dt = dict(df.dtypes)
    assert dt["domains"] == "array<string>"
    assert dt["last_updated"] == "timestamp"


def test_clean_row_intact(transformed):
    r = transformed["Universidad de Costa Rica"]
    assert r["country"] == "Costa Rica"
    assert r["state_province"] == "San José"
    assert r["alpha_two_code"] == "CR"
    assert r["primary_domain"] == "ucr.ac.cr"
    assert r["primary_website"] == "https://www.ucr.ac.cr"
    assert r["last_updated"] is not None


def test_missing_domains_defaults(transformed):
    r = transformed["NoDomains U"]
    assert r["domains"] == []
    assert r["primary_domain"] is None
    assert r["primary_website"] == "https://nd.example"


def test_alpha_two_code_empty_vs_whitespace(transformed):
    # P3: '' input → null, '  ' input → '' (JS ternary on untrimmed value)
    assert transformed["EmptyAlpha U"]["alpha_two_code"] is None
    assert transformed["SpaceAlpha U"]["alpha_two_code"] == ""


def test_trimming(transformed):
    r = transformed["Padded U"]
    assert r["country"] == "Padland"
    assert r["domains"] == ["pad.edu"]
    assert r["primary_domain"] == "pad.edu"
    assert r["primary_website"] == "https://pad.example"


def test_first_element_rule(transformed):
    assert transformed["TwoDomains U"]["primary_domain"] == "a.edu"


def test_csv_export_shape(spark, tmp_path):
    """The staged CSV bytes, rendered from the driver-side rows the
    pipeline collects."""
    raw = spark.createDataFrame(RAW_ROWS, UNIVERSITIES_RAW_SCHEMA)
    collected = transformed_iso(transform_universities(raw)).collect()
    path = tmp_path / "u.csv"
    write_csv_export([r.asDict() for r in collected], str(path))
    with open(path, newline="", encoding="utf-8") as fh:
        header, *body = csv.reader(fh)
    assert header == [
        "name",
        "country",
        "state_province",
        "alpha_two_code",
        "primary_domain",
        "primary_website",
        "last_updated",
    ]
    rows = {r[0]: dict(zip(header, r)) for r in body}
    # P8: nulls become '' at the CSV boundary
    assert rows["NoState U"]["state_province"] == ""
    assert rows["NoDomains U"]["primary_domain"] == ""
    # ISO-8601 with milliseconds + Z (Date.toISOString shape)
    assert re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z",
        rows["NoState U"]["last_updated"],
    )


def test_f2_not_foldable_into_f1(spark):
    """The two-phase filter is order-sensitive: folding F2's trimmed
    check into F1 would change which rows die (row 4 must pass F1)."""
    from node_js_etl_processor_spark.universities import filter_valid_raw

    raw = spark.createDataFrame(RAW_ROWS, UNIVERSITIES_RAW_SCHEMA)
    f1_names = {r["name"] for r in filter_valid_raw(raw).collect()}
    assert "   " in f1_names  # whitespace-only name survives F1...
    # ...and the final pipeline kills it (asserted in test_survivor_set)

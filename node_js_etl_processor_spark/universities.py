"""Reference-parity universities pipeline (SURVEY.md §2a, M2).

``transform_universities`` reproduces the reference transform
(reference server.js:65-97) exactly, as one composed Catalyst plan:

    F1 (truthiness pre-filter, server.js:69-76)
    → P1..P6 (clean/rename/null-normalize/array/first-element/timestamp
      projection, server.js:77-92)
    → F2 (post-trim re-filter, server.js:93)

Semantics pinned by tests (tests/test_universities.py, FIXTURES.md §2):

- whitespace-only ``name`` survives F1, becomes ``''`` at P1, dies at
  F2 — the filters must NOT be folded into one;
- ``alpha_two_code = ''`` → null but ``'  '`` → ``''`` (JS ternary on
  the untrimmed value, server.js:83);
- missing/non-array ``domains``/``web_pages`` → ``[]`` with
  ``primary_* = null`` (server.js:84-89);
- ``last_updated`` is ``current_timestamp()`` — per-query constant,
  strictly more deterministic than the reference's per-row
  ``new Date().toISOString()`` (server.js:90).

Everything is a narrow dependency: no shuffle anywhere in the parity
pipeline. Over a file or stream source Catalyst fuses the whole chain
into a single WholeStageCodegen pass over the source partitions — at
100 TB this is a pure scan-bandwidth job. The refresh's driver-fetched
feed is a local relation instead (sources/http_json.py), and the
optimizer folds the whole chain over it into one ``LocalTableScan``:
no Spark job at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions.js_semantics import (
    clean_str,
    clean_str_array,
    first_element_or_null,
    js_truthy_str,
)


def filter_valid_raw(df: DataFrame) -> DataFrame:
    """F1: required-field validation (reference server.js:69-76).

    Keep rows with truthy ``name`` and ``country`` and a non-empty
    ``web_pages`` array. ``size(c) > 0`` is false for null arrays,
    matching ``Array.isArray(x) && x.length > 0`` (server.js:73-75).
    """
    return df.filter(
        js_truthy_str(F.col("name"))
        & js_truthy_str(F.col("country"))
        & (F.size("web_pages") > 0)
    )


def project_clean(df: DataFrame) -> DataFrame:
    """P1-P6: the cleaning projection (reference server.js:77-92)."""
    from node_js_etl_processor_spark.functions.js_semantics import trim_or_null

    domains = clean_str_array(F.col("domains"))
    web_pages = clean_str_array(F.col("web_pages"))
    return df.select(
        clean_str(F.col("name")).alias("name"),  # P1, server.js:80
        clean_str(F.col("country")).alias("country"),  # P1, server.js:81
        trim_or_null(F.col("`state-province`")).alias("state_province"),  # P2+P3, :82
        trim_or_null(F.col("alpha_two_code")).alias("alpha_two_code"),  # P3, :83
        domains.alias("domains"),  # P4, server.js:84
        web_pages.alias("web_pages"),  # P4, server.js:85
        first_element_or_null(domains).alias("primary_domain"),  # P5, :86-87
        first_element_or_null(web_pages).alias("primary_website"),  # P5, :88-89
        F.current_timestamp().alias("last_updated"),  # P6, server.js:90
    )


def filter_post_trim(df: DataFrame) -> DataFrame:
    """F2: post-trim re-validation (reference server.js:93) — kills rows
    whose name/country trimmed down to ''."""
    return df.filter((F.col("name") != "") & (F.col("country") != ""))


def transform_universities(df: DataFrame) -> DataFrame:
    """The full parity transform: F1 → P1..P6 → F2 (server.js:65-97)."""
    return filter_post_trim(project_clean(filter_valid_raw(df)))

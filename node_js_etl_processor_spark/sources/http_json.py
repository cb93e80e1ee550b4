"""HTTP JSON API source (SURVEY.md §2a S1/S2, reference server.js:33-62).

The reference fans out parallel GETs to
``universities.hipolabs.com/search?country=X`` for a hard-coded country
list, validates each response is a JSON array, and unions results;
per-source failures are logged and swallowed (O2, server.js:56-58).

The engine path is ``fetch_universities_driver``: concurrent fetches
on the driver via ThreadPoolExecutor, one task per country, then one
``pyarrow.Table`` of the coerced rows handed to
``spark.createDataFrame(table, schema)`` with an explicit schema (no
inference). An Arrow table becomes a ``LocalRelation``, so the
optimizer folds the whole transform and the ISO render into one
``LocalTableScan`` and a refresh runs no Spark job. A failed source
contributes zero rows and an entry in the failure list, never a job
abort.

The folded plan is evaluated on the driver in one thread, which pays
while the feed is small; the reference's real feed is about 3k rows.
On the seed-7 benchmark feed (5,000 rows in, 4,393 kept; 4-core host,
``local[4]``, warm medians) against the old 4-slice RDD and one Spark
job, transform+collect was faster up to 4x the feed (0.26-0.32 s vs
0.54-0.66 s at 1x) and slower from 10x (44k kept: 1.59-1.61 s vs
1.37-1.55 s; 176k kept at 40x: 6.0 s vs 4.4-5.1 s). The Arrow extract
is cheaper at every size, so a whole refresh was still faster at 40x
(8.6-8.8 s vs 9.1-9.6 s).

It also isolates malformed rows: ``normalize_raw_row`` coerces each
feed row to the raw schema before the Arrow table is built, so one row
with a string-valued ``domains``, a number-valued ``name`` or a lone
UTF-16 surrogate can never fail the whole refresh.
"""

from __future__ import annotations

import json
import logging
import math
import re
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType

from node_js_etl_processor_spark.schemas import UNIVERSITIES_RAW_SCHEMA

logger = logging.getLogger(__name__)

DEFAULT_BASE_URL = "http://universities.hipolabs.com/search?country={country}"
#: Reference's hard-coded source list (server.js:35).
DEFAULT_COUNTRIES = ("Costa Rica", "Colombia", "USA")

_RAW_ARROW_SCHEMA = to_arrow_schema(UNIVERSITIES_RAW_SCHEMA)
_SURROGATE = re.compile("[\ud800-\udfff]")


def _http_get_json(url: str, timeout: float = 30.0) -> list[dict]:
    """GET a URL, require a JSON array body (server.js:50 validation)."""
    from urllib.request import urlopen

    with urlopen(url, timeout=timeout) as resp:  # noqa: S310 (http source)
        if resp.status != 200:
            raise OSError(f"HTTP {resp.status} for {url}")
        body = json.loads(resp.read().decode("utf-8"))
    if not isinstance(body, list):
        raise ValueError(f"expected JSON array from {url}")
    return body


def js_number_string(x: int | float) -> str:
    """JS ``String(x)`` for a JSON number (ECMA-262 Number::toString):
    shortest round-trip digits, plain notation for magnitudes in
    [1e-6, 1e21) and ``1e+21`` / ``1e-7`` style outside it."""
    try:
        x = float(x)  # JS numbers are doubles: big ints round like JSON.parse
    except OverflowError:
        x = math.inf if x > 0 else -math.inf
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0:
        return "0"  # String(-0) is "0"
    sign, digits, exp = Decimal(repr(x)).normalize().as_tuple()
    s = "".join(map(str, digits))
    k, n = len(s), exp + len(s)  # value = 0.s * 10**n
    if k <= n <= 21:
        body = s + "0" * (n - k)
    elif 0 < n <= 21:
        body = s[:n] + "." + s[n:]
    elif -6 < n <= 0:
        body = "0." + "0" * -n + s
    else:
        body = (s[0] + "." + s[1:] if k > 1 else s) + f"e{n - 1:+d}"
    return "-" * sign + body


def _js_scalar_string(v: Any) -> str | None:
    """``String(v)`` for a JSON scalar; None for null, objects and arrays
    (the engine keeps no ``"[object Object]"`` / ``"a,b"`` renders).

    A string's surrogate code points become U+FFFD, one each: ``json``
    pairs every valid ``\\ud83d\\ude00`` escape into one code point, so
    those left are lone (``"\\ud800"`` is valid JSON). Node writes the
    same U+FFFD when it encodes such a string to a UTF-8 file, and Arrow
    cannot hold the string at all."""
    if isinstance(v, str):
        return v if v.isascii() else _SURROGATE.sub("\ufffd", v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return js_number_string(v)
    return None


def normalize_raw_row(row: dict) -> dict:
    """Coerce one feed row to ``UNIVERSITIES_RAW_SCHEMA`` with the
    reference's JS semantics (SURVEY.md §2a P1/P3/P4):

    - string fields: a string stays; a number or bool becomes its
      ``String()`` text when truthy and null when falsy (``0``,
      ``false``, ``NaN``), which is where the reference's ``x ? ... :``
      and F1 truthiness checks send it; an object or array becomes null;
    - ``domains`` / ``web_pages``: a non-array becomes null, so P4
      yields ``[]`` and F1 drops a row without ``web_pages``; array
      elements keep strings and nulls, numbers and bools become their
      ``String()`` text, objects and arrays become null.

    Documented divergences (beside P4's ``String(null)``): JS would
    render an object as ``"[object Object]"`` and an array as its
    comma-joined elements; the engine maps both to null.
    """
    out: dict[str, Any] = {}
    for f in UNIVERSITIES_RAW_SCHEMA.fields:
        v = row.get(f.name)
        if isinstance(f.dataType, ArrayType):
            out[f.name] = [_js_scalar_string(e) for e in v] if isinstance(v, list) else None
        else:
            if isinstance(v, (bool, int, float)) and not (v and v == v):
                v = None  # JS-falsy 0, false, NaN
            out[f.name] = _js_scalar_string(v)
    return out


def fetch_universities_driver(
    spark: SparkSession,
    countries: Sequence[str] = DEFAULT_COUNTRIES,
    base_url: str = DEFAULT_BASE_URL,
    fetcher=None,
) -> tuple[DataFrame, list[str]]:
    """Driver-side concurrent fan-out + union (S1+S2+O2).

    ``fetcher(country) -> list[dict]`` is injectable for tests/offline
    runs. Returns (raw DataFrame, failed-source names). Mirrors the
    reference: failures are isolated per source (server.js:56-58), and
    an all-failed run yields an empty frame, not an error
    (server.js:147 — empty input proceeds).
    """
    fetcher = fetcher or (
        lambda country: _http_get_json(base_url.format(country=country.replace(" ", "+")))
    )
    rows: list[dict] = []
    failed: list[str] = []
    with ThreadPoolExecutor(max_workers=max(len(countries), 1)) as pool:
        futures = {pool.submit(fetcher, c): c for c in countries}
        for fut, country in futures.items():
            try:
                got = fut.result()
                rows.extend(got)
                logger.info("fetched %d records for %s", len(got), country)
            except Exception as exc:  # per-source isolation (O2)
                failed.append(country)
                logger.error("error fetching data for %s: %s", country, exc)
    # keep only declared fields, coerced to the raw schema; extras in the
    # feed are dropped (the reference's transform also only reads the 6
    # known keys)
    cleaned = [normalize_raw_row(r) for r in rows if isinstance(r, dict)]
    table = pa.Table.from_pylist(cleaned, schema=_RAW_ARROW_SCHEMA)
    return spark.createDataFrame(table, UNIVERSITIES_RAW_SCHEMA), failed


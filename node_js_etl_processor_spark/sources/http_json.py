"""HTTP JSON API source (SURVEY.md §2a S1/S2, reference server.js:33-62).

The reference fans out parallel GETs to
``universities.hipolabs.com/search?country=X`` for a hard-coded country
list, validates each response is a JSON array, and unions results;
per-source failures are logged and swallowed (O2, server.js:56-58).

Two engine paths:

- **small (driver-side)** — the reference's actual scale (thousands of
  rows): concurrent fetches on the driver via ThreadPoolExecutor →
  ``spark.createDataFrame(rows, schema)``. Explicit schema, no
  inference.
- **scale (partitioned fetch)** — a DataFrame of URLs distributed with
  ``mapInPandas``: each executor task fetches its slice of URLs, so
  ingest bandwidth scales with the cluster, not the driver NIC. Used
  when the source list is itself a table (thousands of endpoints /
  paginated shards).

Both isolate per-source failures: a failed URL contributes zero rows
and an entry in the failure log, never a job abort.

The driver path also isolates malformed rows: ``normalize_raw_row``
coerces each feed row to the raw schema before ``createDataFrame``, so
one row with a string-valued ``domains`` or a number-valued ``name``
can never fail the whole refresh.
"""

from __future__ import annotations

import json
import logging
import math
from collections.abc import Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType

from node_js_etl_processor_spark.schemas import UNIVERSITIES_RAW_SCHEMA

logger = logging.getLogger(__name__)

DEFAULT_BASE_URL = "http://universities.hipolabs.com/search?country={country}"
#: Reference's hard-coded source list (server.js:35).
DEFAULT_COUNTRIES = ("Costa Rica", "Colombia", "USA")


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
    (the engine keeps no ``"[object Object]"`` / ``"a,b"`` renders)."""
    if isinstance(v, str):
        return v
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
    return spark.createDataFrame(cleaned, UNIVERSITIES_RAW_SCHEMA), failed


def fetch_json_partitioned(
    spark: SparkSession,
    urls: Sequence[str],
    fetcher=None,
    partitions: int | None = None,
) -> DataFrame:
    """Scale path: distribute URL fetches across executors.

    Builds a single-column URL DataFrame, repartitions so each task owns
    a slice, and fetches inside ``mapInPandas`` (Arrow-batched). Output
    rows carry (url, ok, error, payload_json) — parsing into the typed
    schema happens as a separate relational step so fetch and parse can
    be retried/cached independently.
    """
    import pandas as pd

    fetcher = fetcher or _http_get_json
    n_part = partitions or min(len(urls), 64) or 1
    url_df = spark.createDataFrame([(u,) for u in urls], "url string").repartition(n_part)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "ok": [], "error": [], "payload_json": []}
            for u in pdf["url"]:
                out["url"].append(u)
                try:
                    body = fetcher(u)
                    out["ok"].append(True)
                    out["error"].append(None)
                    out["payload_json"].append(json.dumps(body))
                except Exception as exc:  # per-source isolation (O2)
                    out["ok"].append(False)
                    out["error"].append(str(exc))
                    out["payload_json"].append(None)
            yield pd.DataFrame(out)

    return url_df.mapInPandas(
        run, "url string, ok boolean, error string, payload_json string"
    )


def parse_universities_payloads(payloads: DataFrame) -> DataFrame:
    """Relational parse step for the partitioned fetch: explode each
    JSON-array payload into typed raw rows (from_json with explicit
    schema — no inference)."""
    from pyspark.sql import functions as F

    arr = F.from_json(F.col("payload_json"), ArrayType(UNIVERSITIES_RAW_SCHEMA))
    return (
        payloads.filter(F.col("ok"))
        .select(F.explode(arr).alias("r"))
        .select("r.*")
    )

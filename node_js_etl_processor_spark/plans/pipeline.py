"""ETL orchestration: the reference's control plane, Spark-shaped.

Maps the reference's ``runETL`` (O1, reference server.js:140-166) —
extract → (always) transform → stage → ``{success, recordCount}`` /
``{success: False, error}`` — plus the trigger surface:

- run-on-boot (O4, server.js:276-278) → ``refresh()`` called eagerly;
- on-demand (O5, server.js:222-239) → ``refresh()`` callable;
- cron (O3, server.js:264-269) → external scheduler invoking
  ``refresh()``, or the Structured Streaming availableNow twin in
  streaming/refresh.py;
- structured logging (O7, server.js:26-30) → stdlib logging with the
  reference's ``[LEVEL] ts - msg`` shape.

Error semantics pinned by tests: extract failures are isolated per
source (O2) and never abort the run; an empty extract still transforms
and stages empty outputs (the reference's ``if (rawData)`` gate is
always-truthy for arrays, server.js:147); sink failures DO fail the run
(server.js:134-135, 163-165).

A refresh costs one Spark job: ``stage`` collects the transformed rows
once and renders both staged files from them on the driver, so the
JSON and the CSV of one refresh share one ``last_updated`` stamp.
Concurrent ``run()`` calls on one pipeline take turns.
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from node_js_etl_processor_spark.sources.files import write_csv_export, write_json_array
from node_js_etl_processor_spark.sources.http_json import (
    DEFAULT_COUNTRIES,
    fetch_universities_driver,
)
from node_js_etl_processor_spark.universities import transform_universities

logger = logging.getLogger(__name__)


def configure_reference_logging(level: int = logging.INFO) -> None:
    """O7: ``[LEVEL] ISO-ts - msg`` console format (server.js:26-30)."""
    handler = logging.StreamHandler()
    handler.setFormatter(
        logging.Formatter("[%(levelname)s] %(asctime)s - %(message)s")
    )
    root = logging.getLogger("node_js_etl_processor_spark")
    root.handlers[:] = [handler]
    root.setLevel(level)


@dataclass
class ETLResult:
    """The reference's run-result record (server.js:155, 163-165)."""

    success: bool
    record_count: int = 0
    error: str | None = None
    failed_sources: list[str] = field(default_factory=list)

    def as_dict(self) -> dict[str, Any]:
        out: dict[str, Any] = {"success": self.success}
        if self.success:
            out["recordCount"] = self.record_count
        else:
            out["error"] = self.error
        if self.failed_sources:
            out["failedSources"] = list(self.failed_sources)
        return out


@dataclass
class UniversitiesPipeline:
    """E→T→L pipeline with the reference's orchestration semantics.

    ``extract`` is injectable (offline tests use a fixture fetcher);
    defaults to the HTTP fan-out source. Stage paths mirror the
    reference's ``data/universities.{json,csv}`` (server.js:11-12).
    """

    spark: SparkSession
    json_path: str = "data/universities.json"
    csv_path: str = "data/universities.csv"
    countries: Sequence[str] = DEFAULT_COUNTRIES
    fetcher: Callable | None = None
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def extract(self) -> tuple[DataFrame, list[str]]:
        return fetch_universities_driver(
            self.spark, countries=self.countries, fetcher=self.fetcher
        )

    def transform(self, raw: DataFrame) -> DataFrame:
        return transform_universities(raw)

    def stage(self, transformed: DataFrame) -> int:
        # one collect feeds both sinks; asDict keeps every key with an
        # explicit null, like the reference's JSON.stringify
        rows = [r.asDict() for r in transformed_iso(transformed).collect()]
        n = write_json_array(rows, self.json_path)
        write_csv_export(rows, self.csv_path)
        return n

    def run(self) -> ETLResult:
        """O1: the full run with the reference's result record."""
        with self._lock:
            logger.info("Starting ETL process...")
            try:
                raw, failed = self.extract()
                # always-transform gate (server.js:147: `[]` is truthy)
                transformed = self.transform(raw)
                n = self.stage(transformed)
                logger.info("ETL process completed successfully. %d records", n)
                return ETLResult(success=True, record_count=n, failed_sources=failed)
            except Exception as exc:  # sink/transform failures propagate
                logger.error("ETL process failed: %s", exc)
                return ETLResult(success=False, error=str(exc))


def transformed_iso(df: DataFrame) -> DataFrame:
    """JSON-sink shape: last_updated rendered ISO-8601 (the reference
    stores the string form, server.js:90 + SURVEY.md §1.3)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "last_updated", F.date_format("last_updated", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    )


def refresh(spark: SparkSession, **kwargs: Any) -> dict[str, Any]:
    """The on-demand/boot/cron entry point (O3-O5): one full rerun."""
    return UniversitiesPipeline(spark, **kwargs).run().as_dict()

"""File sinks/sources honoring the reference's staging contracts.

- S3 (server.js:106): ONE pretty-printed JSON **array** file. Spark
  natively writes JSONL directories, so the array-file contract is a
  deliberate export step at the edge, never used mid-pipeline.
- S4 (server.js:109-130): ONE CSV file, fixed 7-column header order,
  nulls as empty strings, every field double-quoted (json2csv v6's
  default, pinned by the golden test).
- S5 (server.js:203-204): read-back of the staged JSON array via
  multiLine JSON.

Both sinks take rows the pipeline has already collected on the driver
(one collect per refresh feeds both files) and only render and
publish. Publishing writes a temporary file beside the target and
``os.replace``s it over the target, so a concurrent reader sees either
the previous complete file or the new one, never a partial write.
"""

from __future__ import annotations

import csv as _csv
import io
import json
import os
import uuid
from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from node_js_etl_processor_spark.schemas import CSV_EXPORT_COLUMNS


def _publish(path: str, data: bytes) -> None:
    """Atomically replace ``path`` with ``data`` (readers never see a
    half-written file). The temporary file lives in the target's
    directory so the rename never crosses a filesystem."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "xb") as fh:
            fh.write(data)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def write_json_array(rows: Sequence[Mapping[str, Any]], path: str) -> int:
    """S3: JSON-array file export of driver-side rows. Returns the row
    count.

    Rows are schema-complete dicts, NOT ``df.toJSON()`` output: Spark's
    JSON render drops null fields, but the reference's JSON.stringify
    emits every key with explicit null (server.js:79-91, 106).
    """
    text = json.dumps(rows, indent=2, ensure_ascii=False)
    _publish(path, text.encode("utf-8"))
    return len(rows)


def write_csv_export(rows: Sequence[Mapping[str, Any]], path: str) -> int:
    """S4: CSV export with the fixed header order (server.js:109-117).
    Returns the row count.

    Takes the same rows as ``write_json_array`` (``last_updated``
    already ISO-rendered) and keeps the 7 export columns, with nulls
    as ``''`` — the driver-side twin of ``universities.csv_export_frame``
    (server.js:122-126). json2csv v6 double-quotes every field by
    default (pinned by golden test), which csv.QUOTE_ALL reproduces.
    """
    buf = io.StringIO()
    w = _csv.writer(buf, quoting=_csv.QUOTE_ALL, lineterminator="\n")
    w.writerow(CSV_EXPORT_COLUMNS)
    for r in rows:
        w.writerow(["" if r[c] is None else r[c] for c in CSV_EXPORT_COLUMNS])
    _publish(path, buf.getvalue().encode("utf-8"))
    return len(rows)


def read_json_array(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S5: read a staged JSON-array file (multiLine because the file is
    one array, not JSONL — server.js:203-204)."""
    reader = spark.read.option("multiLine", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv_export(spark: SparkSession, path: str) -> DataFrame:
    """S6 engine twin: read the staged CSV back as a DataFrame with the
    export's fixed 7-string-column schema (the write side is
    write_csv_export; together they close the sink/source symmetry).
    All columns are strings by contract — the export already rendered
    numbers/nulls to their string forms, so no inference is wanted."""
    cols = ", ".join(f"`{c}` string" for c in CSV_EXPORT_COLUMNS)
    return (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema(cols)
        .csv(path)
    )

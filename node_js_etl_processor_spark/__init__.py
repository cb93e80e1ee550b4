"""node_js_etl_processor_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of
``luis-trejos-0289/node-js-etl-processor`` (a Node.js ETL micro-service,
reference at /root/reference/server.js) as an idiomatic Spark
DataFrame/Catalyst engine, extended with the relational + LLM-data-pipeline
operators a 100 TB training-data platform needs (dedup, similarity search,
text analysis, multimodal column plumbing, streaming refresh).

Design stance (SURVEY.md §7): DataFrame-first, schema-explicit, no Python
UDFs in any parity path, every operator a pure ``DataFrame -> DataFrame``
function so Catalyst sees one composed plan.
"""

__version__ = "0.1.0"

from node_js_etl_processor_spark.session import get_spark  # noqa: F401
from node_js_etl_processor_spark.catalog import TABLES, load_table  # noqa: F401

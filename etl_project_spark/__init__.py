"""etl_project_spark — a PySpark-native analytics engine.

Re-expresses the capability surface of the reference ETL pipeline
(franciscodevs/etl-project, see SURVEY.md) as first-class, scale-out
Spark DataFrame operators:

- ingest (paginated custom Python data source ≙ flows/etl.py:92-183)
- clean (sentinel → NULL normalization ≙ flows/etl.py:150-159)
- combine (union + dedup ≙ flows/etl.py:304)
- enrich (retrying external-call mapInPandas ≙ flows/etl.py:186-242)
- sink (JDBC with batched writes ≙ flows/etl.py:244-286)

plus the relational core (joins/aggs/windows/set-ops), text analysis,
deduplication (exact / MinHash-LSH / SimHash), similarity search, and
streaming on event tables — everything designed to run unchanged on a
large cluster: declarative plans, no driver-side collects in operator
paths, broadcast/AQE-friendly joins.
"""

__version__ = "0.1.0"

from etl_project_spark import _zipcache

_zipcache.install()

from etl_project_spark.catalog import TABLES, read_table, register_views
from etl_project_spark.session import get_spark, tune_session

__all__ = ["TABLES", "read_table", "register_views", "get_spark", "tune_session"]

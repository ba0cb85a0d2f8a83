"""lexoid_spark — a brand-new PySpark-native rebuild of Lexoid's
STATIC_PARSE document-conversion path (reference: oidlabs-com/Lexoid,
studied at /root/reference).

Architecture (SURVEY.md §1.3, §7):

- extraction *kernels* (HTML→markdown, PDF layout parse, CSV→pipe table,
  heading segmentation) are pure-Python, vectorized through pandas/Arrow
  UDFs — one Python call per Arrow batch, never per row;
- *orchestration* (doctype routing, error quarantine, page re-assembly,
  skew handling, lineage, checkpoint/resume) is native DataFrame ops so
  Catalyst plans, prunes and pushes down;
- input is a Common-Crawl-style ``pages(url, warc_ts, html, text, lang)``
  table (BASELINE.json::input_hint), columnar at rest (parquet),
  Arrow-columnar in flight.
"""

__version__ = "0.1.0"

import sys as _sys

# First lexoid code a Python worker runs (every lexoid UDF unpickles
# through this package): make the worker's per-task import refresh lazy
# for the rest of its life (zip_refresh.py). The driver, where pyspark
# never sets the flag, skips it without importing anything.
_spark_files = _sys.modules.get("pyspark.core.files")
if _spark_files is not None and _spark_files.SparkFiles._is_running_on_worker:
    from lexoid_spark.zip_refresh import install as _install_zip_refresh

    _install_zip_refresh()

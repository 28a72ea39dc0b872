"""etl_wildweb_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference ETL connector
(``dfpc-coe/etl-wildweb``, surveyed in SURVEY.md) as an idiomatic Spark
engine: DataFrame/SQL declarative plans optimized by Catalyst, plus the
LLM-data-pipeline operator set (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.

Layout:
    session.py    SparkSession factory (UTC, AQE, arrow)
    io.py         testdata table loaders / view registration
    registry.py   query + oracle registry backing __spark_entry__.py
    operators/    relational (B1-B20), dedup (B28-B29), similarity (B30),
                  text (B31), multimodal (B32)
    ingest/       the WildWeb pipeline stages (SURVEY.md §2 Part A)
    streaming/    windowed/session/watermark/dedup streaming ops (B21-B24)
    sources/      throttled HTTP source with injectable fake (B33)
    functions/    JS-compat scalar helpers, vector math
    plans/        plan-inspection helpers (pushdown/broadcast assertions)
    pyworker.py   Python-worker set-up (zip directories kept across tasks)
"""

from .pyworker import keep_zip_directories

__version__ = "0.1.0"

# A Python worker imports the package when it unpickles any by-reference
# function; from then on its tasks skip the zip directory re-reads.
keep_zip_directories()

"""kickhouse-spark: a PySpark-native analytics engine.

A from-scratch re-expression of the query & data-processing capabilities of
the reference pipeline (TheSportsDB -> Kafka -> Spark validator -> ClickHouse
star warehouse -> DuckDB/Grafana DQ analytics; see SURVEY.md) as an idiomatic
Spark DataFrame/SQL/Structured-Streaming library, extended with
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns).

Layout
------
- ``session``    : SparkSession factory (AQE on, UTC, sane shuffle conf)
- ``sources``    : parquet/kafka/json readers & sinks, table registry,
                   parts tables, storage I/O (local/Hadoop backends)
- ``functions``  : scalar expression library (pk, payload hash, ts repair,
                   validity predicates, text metrics, vector math)
- ``operators``  : latest-per-key, dedup (exact/minhash/simhash/jaccard),
                   similarity search, sessionization, multimodal plumbing
- ``plans``      : named query plans (TPC-H-ish OLAP, DQ suite, warehouse
                   builds) — each registered in ``catalog`` with a DuckDB
                   oracle for the correctness gate
- ``streaming``  : structured-streaming validator & foreachBatch sinks
                   into parts tables and sketches
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401

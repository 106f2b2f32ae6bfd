"""basin_cli_spark — a from-scratch PySpark-native analytics engine with the
query and data-processing capabilities of tablelandnetwork/basin-cli.

The reference (studied at /root/reference, cited by file:line throughout) is a
CDC publishing pipeline: Postgres logical replication -> windowed buffer ->
Parquet export -> signed upload.  This engine re-expresses that pipeline
Spark-first (Structured Streaming + foreachBatch sink) and completes the
relational surface the reference delegates to its embedded engines
(DuckDB/Postgres) as a DataFrame/Catalyst-native operator library, plus the
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) required by the project north star.

Layout:
    session.py    SparkSession factory tuned for the target cluster profile
    sources/      parquet/csv/json/jdbc readers, CDC wal2json source, vaults
    operators/    relational query surface, dedup, similarity, text analysis
    functions/    keccak256, secp256k1 signing, ECMH multiset hash, timestamps
    streaming/    windowed signed-upload sink, CDC stream wrapper
"""

__version__ = "0.1.0"

from basin_cli_spark.session import get_spark  # noqa: F401

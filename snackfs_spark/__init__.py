"""snackfs_spark — a PySpark-native analytics engine with the capabilities of
tuplejump/snackfs (reference surveyed in SURVEY.md), rebuilt Spark-first.

The reference is a Cassandra-backed Hadoop filesystem (inodes + chunked
blocks) plus a shell-level analytics layer (ls/du/count/getmerge/tail).
This package re-expresses that capability surface — metadata queries,
chunked-content reassembly, locality/interval matching, lock arbitration —
as declarative DataFrame/SQL plans that Catalyst can optimize, and extends
it with the large-scale training-data-pipeline operators mandated by
BASELINE.md (dedup, similarity search, multimodal columns, text analysis).

Layout:
  session.py    — tuned SparkSession factory (AQE, Arrow, UTC)
  registry.py   — query registry: name -> (spark callable, oracle SQL)
  sources/      — table loaders and filesystem-model derivation
  operators/    — the operator families from SURVEY.md §2
  functions/    — shared column-expression helpers
  plans/        — plan-inspection utilities (pushdown/broadcast asserts)
  streaming/    — Structured Streaming variants of the ingest/tail paths
  pyworker.py   — the Python task-worker daemon get_spark selects
"""

# This module must import no pyspark: Spark starts each Python worker
# daemon as `python -m snackfs_spark.pyworker`, which runs this file
# first, and pyworker has to trim sys.path before pyspark is imported.
__version__ = "0.1.0"

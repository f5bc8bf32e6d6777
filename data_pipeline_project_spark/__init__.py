"""data_pipeline_project_spark — a PySpark-native analytics engine.

Re-implements the capabilities of the reference weather-sensor pipeline
(AleenaDenny11/data_pipeline_project) as an idiomatic Spark engine:

- strict/lenient CSV validation with quarantine semantics
  (reference: pipeline.py:85-183)
- per-group long-format aggregation (reference: pipeline.py:186-208)
- batch + Structured Streaming execution (reference: pipeline.py:360-431)
- append / upsert sinks (reference: pipeline.py:211-261)

and extends them with the relational operator surface (joins, windows,
set ops, rollup/cube) plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Everything is DataFrame/SQL-first: logical plans are declared
declaratively and Catalyst/Tungsten pick the physical strategy.
"""

from pyspark import TaskContext

from data_pipeline_project_spark.session import get_spark

if TaskContext.get() is not None:
    # Imported inside a PySpark task, i.e. while a worker unpickles a
    # package kernel: stop the worker re-reading pyspark.zip and the
    # Spark jar before each of its later tasks.
    from data_pipeline_project_spark.functions import zip_finders

    zip_finders.install()

__all__ = ["get_spark"]
__version__ = "0.1.0"

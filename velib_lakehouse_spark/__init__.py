"""velib_lakehouse_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of the
``Julcrm/velib-realtime-lakehouse`` reference (a medallion lakehouse for
real-time bike-share data: Kafka -> Structured Streaming silver ->
windowed/batch gold -> serving SQL), built Spark-first:

* batch relational core: DataFrame/Spark-SQL (scans, filters, windows,
  joins, aggregations) — ``operators/relational.py``, ``operators/velib.py``
* streaming: Structured Streaming with ``Trigger.AvailableNow`` +
  checkpointed partitioned sinks — ``streaming/silver.py`` (the
  medallion's silver stream), ``operators/streaming.py`` (showcase)
* large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) — ``operators/{dedup,similarity,text,
  multimodal}.py``

The medallion core is ``pipeline.py`` + ``serving.py`` (which owns the
serving query) and what they import; it loads no ``operators`` module.
The registry (``registry.py``, ``operators/``) depends on the core,
never the other way round.

Everything is stock PySpark (Catalyst does the optimizing); queries are
written declaratively so predicate pushdown, column pruning, partition
pruning and broadcast selection apply unchanged on a real cluster.
"""

__version__ = "0.1.0"

from velib_lakehouse_spark.session import get_spark  # noqa: F401

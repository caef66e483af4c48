"""distributed_mobility_data_pipeline_spark — a PySpark-native analytics engine.

A clean-room, Spark-first re-expression of the query and data-processing
capabilities of the reference repo ``yashbhaskarwar/distributed-mobility-data-pipeline``
(a medallion-architecture PySpark ETL + ML system over ride-hailing trip
events), extended with LLM-training-data pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing).

Design principles (SURVEY.md §7):
- DataFrame/SQL everywhere; operators are pure ``DataFrame -> DataFrame``
  functions composed lazily so Catalyst optimizes whole pipelines.
- Explicit StructType schemas at IO boundaries: the driver's testdata
  is read with declared schemas; tables the package writes are still
  read by inference (ROADMAP item 4).
- Built-in ``pyspark.sql.functions`` in the hot path; Arrow-batched
  pandas UDFs only for model inference / embedding kernels.
- AQE + broadcast hints + partition columns for 100 TB posture.
"""

from distributed_mobility_data_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"

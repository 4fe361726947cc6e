"""kinesis_sample_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
reference repo ``aditragh/kinesis-sample`` (AWS Kinesis producer/KCL consumer
sample, see SURVEY.md), extended with the batch-relational and
LLM-data-pipeline operators the project north star demands
(``BASELINE.json``): joins/aggregations/windows, streaming
ingest with watermarks + DLQ semantics, dedup (exact/MinHash-LSH/SimHash),
similarity search over embeddings, text analysis, and multimodal-column
plumbing.

Design rules (see SURVEY.md §2/§4):
- DataFrame/SQL first; Catalyst does the optimizing. No custom execution code.
- Exact decimal arithmetic inside aggregates so results are bit-identical to
  an ANSI-SQL oracle (DuckDB) regardless of summation order.
- Broadcast tiny dims, pre-aggregate before shuffles, never collect() inside
  an operator — every operator must survive a 1000-executor / 100 TB run.
"""

from kinesis_sample_spark.session import get_spark
from kinesis_sample_spark.catalog import TABLES, load_table, register_views

__all__ = ["get_spark", "TABLES", "load_table", "register_views"]
__version__ = "0.1.0"

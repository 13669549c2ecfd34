"""kafka_connect_oss_spark — a PySpark-native streaming-ingest + analytics engine.

Re-expresses the capabilities of the aliyun/kafka-connect-oss Kafka Connect
sink connector (reference: /root/reference, v5.2.0) on Apache Spark:

* Structured Streaming Kafka source -> partition-encode -> format-encode ->
  rotated, offset-named object files with exactly-once semantics
  (reference: OSSSinkTask.java, TopicPartitionWriter.java).
* A batch DataFrame query layer exposing every operator (SURVEY.md §2) so
  results can be oracle-checked against DuckDB.
* LLM-data-pipeline extensions: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), similarity search, text analysis,
  multimodal binary columns.

Architecture is Spark-first: DataFrame/SQL + Catalyst everywhere; the only
imperative pieces are the foreachBatch file-commit protocol (offset-derived
deterministic file names, schema-change rotation) which Spark's file sink
does not provide natively.
"""

__version__ = "0.1.0"  # reference parity: utils/Version.java:27-44 (A4)

from kafka_connect_oss_spark.shipping import install_on_python_worker

# inert outside a PySpark Python worker and on CPython >= 3.13 (shipping.py)
install_on_python_worker()

"""PySpark-native batch-iterative crawler engine.

A from-scratch re-expression of the semantics of
geekychris/distributed_web_crawler (reference: /root/reference, Java 21 +
Kafka + Cassandra + S3) as an idiomatic PySpark engine:

- the Kafka frontier queue becomes a snapshot-committed ``frontier`` table
  consumed one BSP round at a time (reference: queue/KafkaUrlQueue.java);
- the Cassandra ``pages`` table + S3 blob store become a single columnar
  ``pages`` table with an inline binary payload column (reference:
  storage/HybridStorageService.java:35-64);
- the in-memory politeness / robots maps (reference:
  core/WebCrawler.java:33-34) become explicit ``hosts`` state and
  window-function fetch budgets;
- content dedup via Cassandra secondary index (reference: schema.cql:17,
  core/WebCrawler.java:333-336) becomes a plain left-anti join against
  the stored-hash history;
- URL-seen dedup (absent in the reference) is a left-anti join fronted by
  one sharded bloom filter — the engine's only seen-state filter.

Nothing here is a port: all hot paths are DataFrame transformations and
Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"

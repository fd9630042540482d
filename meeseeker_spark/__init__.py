"""meeseeker_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of inertia186/meeseeker (reference studied at
/root/reference; no code copied — architecture is DataFrame/SQL + Structured
Streaming, see SURVEY.md).

Layout:
  session     SparkSession builder tuned for local[32] test / cluster scale
  tables      driver-table loaders (region..embeddings) + view registration
  schemas     StructTypes for the chain data model (SURVEY §1)
  keys        composite-key synthesis + Redis-glob → Catalyst predicates
  flatten     block→trx→op flatten pipelines (SURVEY §2 B1–B9)
  manifest    manifest-committed parquet store: the one sink layout and
              commit protocol, incl. TTL expiry as retention delete (O-3)
  query       consumer query surface over the ops store (C1–C6)
  verify      reconciliation analytics (D1–D5)
  sinks       foreachBatch keyed-upsert + channel fan-out (S7–S9)
  fixtures    deterministic chain-shaped fixture generator (FIXTURES.md §B)
  streaming   Structured Streaming ingestion (A/B/E streaming semantics)
  ext         LLM-pipeline extensions: dedup, similarity, text, multimodal
"""

__version__ = "0.1.0"

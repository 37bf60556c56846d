"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference CRM BI/ETL system
(angomezu/Cloud-Based-BI-ETL-Automation-for-Real-Estate-Company).

Everything is expressed Spark-first: DataFrame / Spark SQL plans that
Catalyst optimizes, Structured Streaming for the webhook event stream,
and Arrow-batched pandas UDFs only where built-ins genuinely can't
express the semantics (similarity-search extension, multimodal decode).

Layout:
  functions/   scalar column transforms (timestamps, json, text, vectors)
  operators/   reusable dataflow operators (snapshot, dedup, similarity, rollup)
  plans/       the BI measure library (gold-layer queries) + calendar dim
  sources/     batch/stream source helpers (paginated REST, webhook JSON)
  streaming/   structured-streaming pipelines (id dedup, routing sink)
"""

__version__ = "0.1.0"

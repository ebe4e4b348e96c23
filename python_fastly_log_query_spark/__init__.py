"""PySpark-native log analytics engine.

A from-scratch, Spark-first reimplementation of the query/data-processing
capabilities of ``cloudbuildlab/python-fastly-log-query`` (reference at
/root/reference, read-only), re-expressed as declarative DataFrame plans:

- parse: Arrow-batched ``mapInArrow`` grok parser (reference src/parse/log_parser.py)
- enrich: broadcast lookup joins (GeoIP ranges / service dims)
- route: fan-out multi-sink writes keyed by routing rules
- aggregate: the reference dashboard aggregates (reference
  src/analyze/analytics.py) as Spark SQL group-bys / windows
- plus large-scale training-data ops: dedup (exact/minhash/simhash),
  similarity search, text quality, multimodal plumbing.
"""

__version__ = "0.1.0"

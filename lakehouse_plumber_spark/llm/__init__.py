"""LLM-training-data pipeline operators (north-star extensions).

Beyond the reference's own surface (BASELINE.json: "add the LLM-data-pipeline
operators — dedup, similarity search, multimodal columns, text analysis — and
design every operator for 100 TB scale").

Design rules applied throughout:
- JVM-side expressions (pyspark.sql.functions / higher-order functions), no
  row-at-a-time Python in hot paths; Pandas UDFs only for the multimodal
  decode stubs where a real deployment would call image/audio libs.
- No driver-side collection: candidate generation is always a shuffle-bounded
  join on a bucketing key (LSH band, simhash prefix), never an O(n^2)
  cross join at scale; the brute-force variants exist as correctness oracles
  and small-N baselines.
- Cross-engine determinism: hashes derive from md5 hex prefixes
  (identical in Spark and DuckDB), so every probabilistic structure here is
  exactly reproducible by the DuckDB oracle in __spark_entry__.py.
"""

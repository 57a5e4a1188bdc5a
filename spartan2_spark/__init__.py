"""spartan2-spark: a from-scratch PySpark-native time-series rollup engine.

Re-expresses the query/data-processing capabilities of BGT-M/spartan2
(reference at /root/reference, studied for semantics only) as idiomatic
Spark DataFrame / SQL / Arrow-vectorized pipelines:

- raw -> 1m -> 1h -> 1d retention tiers of continuous aggregates
  (count / min / max / mean / p95) per url over a Common-Crawl-style
  pages table ``(url, warc_ts, html, text, lang)``,
- BeatLex-style gap-fill (forward-fill + linear interpolation),
- Gorilla delta-of-delta + XOR compressed blocks built in Arrow buffers,
- explicit partitioning (hash-on-domain + salting, range on warc_ts),
- checkpoint manifests with per-partition lineage,
- plus the reference's series/graph/stream operator inventory
  (SURVEY.md section 2) as DataFrame compositions and pandas UDFs.

No per-row Python anywhere on the hot path: every stage is built-in
column expressions, window functions, or Arrow-batched pandas UDFs.

This file imports nothing: ``python -m spartan2_spark.pyworker`` loads the
package before it settles ``sys.path``, and must not import ``pyspark``
from Spark's archives first.
"""

__version__ = "0.1.0"

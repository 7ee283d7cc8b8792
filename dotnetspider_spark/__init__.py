"""dotnetspider_spark — a from-scratch PySpark-native crawl/analytics engine.

Re-expresses the query & data-processing capabilities of the reference
crawler (0XC8/DotnetSpider, C#) as idiomatic Spark DataFrame programs:

- URL frontier + dedup scheduler  -> anti-joins + window ranks over
  snapshot-versioned parquet tables (``dotnetspider_spark.tables``)
- politeness / DFS / BFS ordering -> salted group-by-host windows
  (``dotnetspider_spark.operators.frontier``)
- URL-seen set                    -> exact identity anti-join in the
  crawl loop (``dotnetspider_spark.crawler.loop``); a partitioned bloom
  filter over vectorized Arrow UDFs (``dotnetspider_spark.operators.bloom``)
  remains as a standalone membership operator
- selectors & formatters          -> built-in column expressions
  (``dotnetspider_spark.functions``)
- image payload validation        -> pandas UDFs over binary columns
  (``dotnetspider_spark.operators.multimodal``)

No code is ported from the reference; file:line citations in docstrings
point at the behavior being reproduced, not at copied implementation.
"""

__version__ = "0.1.0"

"""emsort-spark: a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the *capabilities* of
QUASARS06/External-Merge-Sort-Loser-Tree-OVC (a C++ external merge sort
with a Tree-of-Losers priority queue and offset-value-coding key
comparisons), re-expressed Spark-first:

- the sort/merge core is a vectorized Arrow/pandas kernel that runs
  per-partition inside ``mapInArrow`` (``kernel/``),
- everything around it (scan, filter, joins, aggregation, dedup,
  similarity, text analysis) is plain DataFrame / Spark SQL so Catalyst
  and Tungsten do the heavy lifting (``operators/``, ``spatial/``),
- spatial indexing (cell encoding, point-in-polygon, kNN via cell-ring
  expansion, raster-tile assignment) is built from Spark column
  expressions that run in the JVM — no Python worker stage
  (``spatial/``).

Reference parity is documented per-module with ``file:line`` citations
into the reference repo; nothing is translated line-by-line.
"""

__version__ = "0.1.0"

SHORT_NAME = "emsort_spark"

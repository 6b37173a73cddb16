"""graphrag_rs_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch, Spark-first re-expression of the build-side semantics of the
graphrag-rs reference (chunking → entity/relation extraction → entity
canonicalization → graph materialization), designed for Iceberg transcript
tables at 10^12-turn scale:

* every stage is declarative DataFrame/SQL where possible (Catalyst optimizes),
* per-chunk string/regex logic runs in Arrow-vectorized pandas UDFs
  (``mapInPandas`` — never row-at-a-time Python),
* canonicalization replaces the reference's O(n²) all-pairs similarity scan
  with blocking keys + distributed pair scoring + large-star/small-star
  connected components,
* skew is bounded explicitly: mega-conversations can be range-split, hot
  blocking keys are capped, and hub-entity edges re-point through
  broadcast joins,
* each stage checkpoints with per-partition lineage for exact resume.

Reference semantics are cited per-module as ``path:line`` into
``/root/reference`` (graphrag-rs).
"""

__version__ = "0.1.0"

from graphrag_rs_spark.config import PipelineConfig  # noqa: F401

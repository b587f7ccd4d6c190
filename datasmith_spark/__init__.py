"""datasmith_spark — a PySpark-native curation / quality-filter engine.

A from-scratch rebuild of the query and data-processing capabilities of
``formula-code/datasmith`` (reference read-only at /root/reference), expressed
Spark-first: DataFrame/SQL plans optimized by Catalyst, one Arrow-batched
mapInPandas label kernel for the Python-visible stages (rules, audio decode,
language-ID, perplexity, PII/toxicity scrub), partition-level
checkpoint/resume, and lineage/metrics side tables.

Layout
------
core/       pure numpy/python kernels shared by the Spark label kernel AND
            the single-process oracle (guarantees bit-identical decisions)
operators/  Spark operator implementations (Column exprs + Arrow UDFs)
datagen.py  deterministic synthetic clips table (seed=42, keyed by clip index)
oracle.py   single-process pandas reference implementation (the "labels" target)
pipeline.py the composed enrich -> filter -> detect -> aggregate pipeline
tables.py   table layer (hash-partitioned parquet; Iceberg-ready abstraction)
"""

__version__ = "0.1.0"

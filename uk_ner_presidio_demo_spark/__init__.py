"""uk_ner_presidio_demo_spark — a from-scratch PySpark-native KG-construction
engine with the query/data-processing capabilities of
SZabolotnii/uk-ner-presidio-demo (reference, read-only at /root/reference).

Layout
------
semantics/   frozen contracts (entity registry, regex table, gazetteer,
             conflict resolution, anonymize splice, triple rules, MinHash)
             — pure Python, imported BOTH by the Spark pandas-UDF kernels
             and by the plain-Python reference oracle, so parity between
             engine and oracle is by construction.
oracle/      plain-Python reference oracle (per-turn, single-process — the
             distributed-free re-statement of the reference pipeline) and
             golden-output materialization.
data/        deterministic transcript/alias synthesizers (seeded).
operators/   Spark operators: fused detection (mapInPandas), anonymize
             splice (pandas_udf), triple emitter (grouped applyInPandas),
             entity linking (broadcast + MinHash/LSH), connected-components
             canonicalization, dedup family, ANN similarity, text analysis.
plans/       end-to-end staged pipeline with checkpoint manifests + metrics.
sources/     table readers (parquet dev path; Iceberg-shaped API).
"""

__version__ = "0.1.0"

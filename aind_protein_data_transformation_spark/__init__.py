"""PySpark-native analytics engine with the query and data-processing
capabilities of ``AllenNeuralDynamics/aind-protein-data-transformation``.

The reference (read-only at /root/reference) is a dask-based array-ETL
pipeline; this engine re-expresses its capability surface (SURVEY.md §2A)
plus the declared relational/LLM-pipeline query surface (SURVEY.md §2B)
as idiomatic Spark DataFrame / SQL / Structured Streaming plans.

Layout:
- ``session``   — SparkSession factory tuned for the local[32] harness.
- ``arraylib``  — the reference job: CZI stacks → multiscale pyramid →
  parquet levels and OME-Zarr stores (``arraylib.job.run_job``).
- ``catalog``   — loaders / temp-view registration for the test tables.
- ``plans``     — canonicalization shared with the DuckDB oracle.
- ``queries``   — the registry of checkable queries (driver contract).
- ``operators`` — composite operators (as-of join, dedup, pyramid, ...).
- ``functions`` — scalar/vector helper column expressions.
- ``streaming`` — Structured Streaming surface over the events table.
- ``measure``   — shared interleaved order-alternated A/B harness.
"""

__version__ = "0.1.0"

"""idr_data_pipelines_spark — a PySpark-native analytics/ETL engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the reference ELT pipeline (savannahghi/idr_data_pipelines:
BigQuery SQL transforms orchestrated by Airflow), re-expressed as an
idiomatic PySpark DataFrame library:

- ``sources``    — parquet directory readers (typed + all-string ingest
                   modes), table sinks (overwrite / append), catalog.
- ``functions``  — scalar expression layer (BigQuery-compatible casts,
                   DATE_DIFF boundary semantics, CASE builders,
                   null-defaulting, sentinel decode, as-of date injection).
- ``operators``  — relational operators (dedup family, projections,
                   filters, joins, aggregations) as composable
                   ``DataFrame -> DataFrame`` functions.
- ``plans``      — Pipeline runner: named stages, dependencies, retries,
                   failure hooks, optional per-stage materialization
                   (the Airflow-DAG analogue, minus the scheduler).
- ``streaming``  — event drain / republish / audit-append via Structured
                   Streaming ``Trigger.AvailableNow`` plus watermarked
                   windowed aggregation.
- ``llmdata``    — large-scale training-data operators beyond the
                   reference surface: exact/MinHash-LSH/SimHash/Jaccard/
                   embedding dedup, ANN similarity search, text analysis,
                   multimodal binary columns.
- ``pipelines``  — the four reference extract chains (MMD/HTS/VLS/COVID)
                   rebuilt over the operator library.

Everything stays lazy inside one Catalyst plan per output; all operators
are built from ``pyspark.sql.functions`` (JVM-side, whole-stage codegen)
except where Python semantics are genuinely required, in which case
Arrow-batched ``mapInPandas``/``applyInPandas`` is used.
"""

from idr_data_pipelines_spark.session import get_spark

__all__ = ["get_spark"]

__version__ = "0.1.0"

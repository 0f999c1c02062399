"""moz_datapipeline_spark — a PySpark-native analytics engine.

A from-scratch Spark implementation of the query and data-processing
capabilities of ``developmentseed/moz-datapipeline`` (a bash/Node.js
road-network ETL pipeline), re-expressed as idiomatic DataFrame/SQL
operators, plus the large-scale training-data operators (dedup,
similarity search, text analysis, multimodal columns) such an engine
needs at 100 TB scale.

Layout
------
- ``session``    : SparkSession factory tuned for local testing / cluster scale.
- ``sources``    : readers/writers (Parquet, CSV, JSON/GeoJSON).
- ``functions``  : scalar column-expression surface (cleaning, scaling,
                   geo math, array HOFs) — pure Catalyst, no UDFs.
- ``operators``  : composable DataFrame→DataFrame operators mirroring the
                   reference's scripts (indicators, traffic, bridges,
                   areas, enrichment, vulnerability) and the LLM-pipeline
                   extensions (dedup, similarity, text, multimodal).
- ``graph``      : the routing kernel (numpy Dijkstra, one mapInPandas
                   pass per task slot) powering criticality and EAUL.
- ``streaming``  : event-stream operators (windowed aggregation,
                   sessionization) usable in batch and Structured
                   Streaming.
- ``plans``      : the pipeline runner replacing the reference's shell
                   orchestration.
"""

__version__ = "0.1.0"

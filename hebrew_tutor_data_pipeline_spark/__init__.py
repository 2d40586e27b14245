"""hebrew_tutor_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine (not a port) with the query and data-processing
capabilities of the reference `adeyholar/hebrew-tutor-data-pipeline`
ETL project, re-expressed Spark-first:

- ``session``    — tuned SparkSession bootstrap (AQE, Arrow, adaptive skew).
- ``schemas``    — explicit StructTypes for every data shape the reference
                   handles implicitly with dicts (SURVEY.md §1).
- ``functions``  — scalar/array/text expression library (SURVEY.md §2.8),
                   similarity scores, Hebrew normalization, text analysis.
- ``operators``  — composite dataflow operators: dedup (exact / MinHash-LSH /
                   SimHash / n-gram Jaccard), ANN similarity search, interval
                   containment joins, proportional time-allocation alignment,
                   fuzzy cursor alignment, config upsert.
- ``sources``    — readers for parquet / nested JSON / binary files and the
                   expected-grid generator (SURVEY.md §2.1).
- ``plans``      — the query catalog exercised by the driver contract
                   (``__spark_entry__.queries()``).
- ``streaming``  — Structured Streaming equivalents of the reference's
                   event-shaped mechanisms (SURVEY.md §2.10).
- ``scope``      — ``QueryScope``: the one owner of an entry's pins, conf
                   changes and scratch dirs, plus the shared memo.
- ``metrics``    — the per-entry measurement record harnesses write:
                   wall/build/exec split, jobs by id range, event-log fold.

Everything is DataFrame-declarative so Catalyst handles pruning, pushdown,
folding, join strategy, and AQE; Python touches data only inside
Arrow-batched pandas UDFs where semantics genuinely require it.
"""

__version__ = "0.1.0"

"""PySpark-native analytics engine re-expressing the semantics of the
reference CDC-lite ingestion job (``/root/reference/gluejob.py``) as
idiomatic, distributed Spark — plus the large-scale training-data
operators (dedup, similarity search, text analysis, multimodal plumbing)
a 100 TB pipeline needs.

Layout
------
- ``session``     SparkSession factory (AQE, UTC, snappy).
- ``registry``    TableSpec catalog: the per-table facts the reference
                  hardcodes as ternaries (gluejob.py:174,191,227,235).
- ``watermarks``  WatermarkStore with the t0-before-read / advance-on-
                  success / commit-at-end protocol (gluejob.py:616,139,623).
- ``sources``     File (CSV/parquet/JSON) and JDBC readers (S1-S5).
- ``operators``   Relational core, normalization, temporal, upsert,
                  dedup, similarity, text, multimodal.
- ``pipeline``    The two ingestion flows (C1/C2) + partitioned lake
                  upsert writer (K1/O6/O7).
- ``journal``     The lake-commit journal every lake writer publishes
                  through: stage, atomic manifest, idempotent publish,
                  recover on open.
- ``queries``     The declared query inventory (SURVEY.md §2.3) with
                  DuckDB oracle SQL twins.
- ``streaming``   Structured Streaming twins: 15 entry points on shared
                  plumbing (``_file_stream`` → ``foreachBatch`` sink,
                  ``_drain_to_memory``); each supplies its transform,
                  digest key and destination.
"""

__version__ = "0.1.0"

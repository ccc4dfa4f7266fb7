"""spark-siri-etl: a PySpark-native engine with the query and data-processing
capabilities of hasadna/open-bus-siri-etl (surveyed in SURVEY.md).

The reference (/root/reference, MIT) is a row-at-a-time SQLAlchemy/Postgres
batch ETL for Israeli SIRI-SM bus snapshots.  This package re-expresses the
same semantics Spark-first:

- ``schemas``    — explicit StructTypes for the nested SIRI document, the
                   parsed record, and the six-table snowflake (SURVEY §1).
- ``sources``    — snapshot readers (JSON / brotli), warehouse table IO with
                   idempotent dynamic-partition overwrite (SURVEY §2.1).
- ``operators``  — flatten / typed-parse+dead-letter / anti-join dim upserts /
                   fact enrichment / window ops (gap sessionization, chunking,
                   minute sequences) plus the beyond-reference training-data
                   operators (dedup, similarity search, text analysis,
                   multimodal plumbing).
- ``pipeline``   — the end-to-end snapshot ETL (reference EP1,
                   process_snapshot.py:398-483).
- ``control``    — the siri_snapshot state machine (pending/loading/loaded/
                   error, heartbeat; reference process_snapshot.py:240-321).
- ``streaming``  — incremental daemon / backfill orchestration (EP2/EP3).
- ``validate``   — DB-vs-raw keyed diff (reference validate_snapshots.py).
- ``plans``      — the query catalog surfaced through __spark_entry__.py.
"""

__version__ = "0.1.0"

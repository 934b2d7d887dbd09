"""PySpark-native batch main-content extraction engine.

A from-scratch reimplementation of the query / data-processing
capabilities of the GenAI IDP Accelerator reference
(``vawsgit/accelerated-intelligent-document-processing-on-aws``) as an
idiomatic Spark engine over tables of multi-turn conversation / agent
transcripts:

- ``kernel``     — pure-Python, batch-vectorizable extraction kernel
                   (HTML boilerplate strip, layout-span reading order,
                   turn classification, confidence scoring).  This is
                   the analog of the reference's OCR-parse /
                   classification / assessment stages
                   (``lib/idp_common_pkg/idp_common/ocr/service.py``,
                   ``classification/service.py``, ``assessment/service.py``).
- ``operators``  — DataFrame operators: extraction (mapInArrow with
                   lineage), segmentation (window gaps-and-islands),
                   evaluation comparators & metric rollups, dedup,
                   similarity search, text analysis.
- ``sources``    — table IO, checkpoint/resume manifest, date-partitioned
                   reporting sinks.
- ``functions``  — reusable column expression builders (normalization,
                   cosine, metering merge, cost model).
- ``plans``      — the analytics SQL surface (Athena-style queries from
                   the reference's ``docs/reporting-database.md``) as
                   Spark plans.
- ``streaming``  — Structured Streaming ingest of transcript shards.
- ``fixtures``   — deterministic synthetic transcript corpus generator
                   (seeded; no wall-clock) + golden-output oracle.
"""

__version__ = "0.1.0"

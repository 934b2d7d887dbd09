"""Pure-Python extraction kernel.

Deterministic, order-independent, and side-effect free so that the
Spark job (which applies it over Arrow batches via ``mapInArrow``)
byte-equals the single-threaded oracle regardless of partitioning.

Stage analogs in the reference repo
(``vawsgit/accelerated-intelligent-document-processing-on-aws``):

- :mod:`.html_extract`  — OCR parse → markdown main text
  (``lib/idp_common_pkg/idp_common/ocr/service.py:1603-1675``).
- :mod:`.layout`        — Textract LINE-block reading order + the
  text-confidence table (``ocr/service.py:1561-1601``); synthetic
  constant-confidence path for plain text (``ocr/service.py:1805-1846``).
- :mod:`.classify`      — content-regex page classification emitting the
  ``{class, document_boundary}`` contract
  (``classification/service.py:713-739,1296-1317``).
- :mod:`.confidence`    — per-turn confidence scoring analog of the
  assessment stage (``assessment/service.py:181-290``).
- :mod:`.oracle`        — the single-call-per-turn composition used both
  by the Spark kernel and by the pure-Python golden generator.
"""

from .oracle import extract_turn, sniff_payload_kind  # noqa: F401

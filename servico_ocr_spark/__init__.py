"""servico_ocr_spark — PySpark-native reimplementation of the Servico-OCR
per-document OCR / layout-analysis / region-classification pipeline.

Architecture (Spark-first, NOT a port):

- Everything *cross-document* (dedupe, resume anti-joins, metrics, filters,
  similarity search, text statistics) is declarative DataFrame/SQL code so
  Catalyst/AQE handle pushdown, pruning, broadcast and skew.
- Everything *per-document* (token→box assembly, enrichment, classification,
  reading order, rendering) runs as a pure-Python kernel inside a single
  ``mapInArrow`` stage (``boundary.map_documents``, the one Python
  boundary of every stage outside ``streaming/``) — one input row is one
  document, so the whole extraction pipeline needs **zero shuffles**.
- The OCR engine itself is a pluggable ``TokenSource`` boundary
  (reference: pytesseract call at app/util_ocr.py:102); this sandbox ships a
  deterministic synthetic tokenizer so tests need no binaries.
"""

from . import zipcache

# Spark's workers import this package when they unpickle one of its kernels;
# from then on their per-task cache invalidation skips unchanged zip archives.
zipcache.install()

__version__ = "0.1.0"

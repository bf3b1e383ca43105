"""ktpm___ocr_spark — a PySpark-native batch extraction engine.

A from-scratch reimplementation of the capabilities of the reference
pipe-and-filter document-transform service (daoendi/KTPM---OCR, surveyed in
SURVEY.md) as an idiomatic Spark batch engine over an interleaved
text+media documents table::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Design stance (SURVEY.md §7): pure DataFrame API + Arrow-vectorized UDFs;
no RDDs, no custom Catalyst rules. The reference's cache layers become
dedup memo-joins; its queue/worker async path becomes a driver-orchestrated
batch with a partition manifest for checkpoint resume; every stage emits
lineage + row/byte metrics.
"""

__version__ = "0.1.0"

from ktpm___ocr_spark import zipcache
from ktpm___ocr_spark.session import get_spark  # noqa: F401

zipcache.install()  # runs in every Python worker that imports the engine

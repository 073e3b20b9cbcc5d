"""handprint_spark — a PySpark-native document-extraction analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of
caltechlibrary/handprint (reference surveyed in SURVEY.md): an
interleaved text+media document table
``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)`` is
processed by DataFrame operators plus vectorized pandas/Arrow UDFs —
image normalization, deterministic local HTR decode, per-service result
normalization, reading-order reconstruction, ground-truth comparison —
alongside the large-scale training-data operators (dedup families,
similarity search, text analysis) that a 100 TB corpus pipeline needs.

Layout:
  kernels/    pure-Python batch kernels (no Spark import) called from UDFs
  operators/  DataFrame-level operators (extraction, dedup, similarity, ...)
  sources/    table readers/writers + checkpoint/lineage protocol
  plans/      extract_skew_aware, the benchmark's name for extract_documents
  streaming/  Structured Streaming surface
"""

import importlib as _importlib
import sys as _sys
import zipimport as _zipimport

__version__ = "0.1.0"


# Per-task cost: PySpark's worker calls importlib.invalidate_caches()
# before every task, and on Python 3.11 each zipimporter in
# sys.path_importer_cache then re-reads its whole archive directory
# (pyspark.zip: 16 finders x 1,328 entries; 0.2-0.27 s of worker CPU per
# task on a 4-vCPU host, for any UDF, even with zero rows). Unpickling
# any of the package's functions imports this package, so wrapping the
# call here spares every package Python stage the re-read on a reused
# worker, from its second task on. Dropping the finders is safe: a later
# import from a zip re-creates its finder from zipimport's directory cache.
def _invalidate_caches(_original=_importlib.invalidate_caches):
    cache = _sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, _zipimport.zipimporter):
            cache.pop(path, None)
    _original()


if _importlib.invalidate_caches.__module__ != __name__:  # once, also on reload
    _importlib.invalidate_caches = _invalidate_caches

"""readur_spark — a PySpark-native document-extraction and analytics engine.

A from-scratch reimplementation of the extraction semantics of the readur
document-management system (reference: /root/reference, readur v2.9.0) on
Apache Spark. The design is Spark-first:

* the relational/query surface (search, facets, dedup reports, stats) is
  plain DataFrame / SQL, optimized by Catalyst;
* heavy per-document text work (HTML main-content extraction, PDF text-layer
  parse, DOCX/XLSX XML extraction, OCR-output normalization) runs as
  Arrow-batched pandas UDFs via ``mapInPandas`` — never per-row Python;
* orchestration (readur's Postgres work queue, retry and resume) becomes a
  partition-granular checkpoint table plus deterministic job structure.

Layout:
    kernels/    pure-Python parity kernels (no Spark imports) — the exact
                normalization / word-count / quality-gate semantics of the
                reference, reusable inside UDFs and as test oracles
    functions/  Catalyst-native Column builders (regexp chains, text stats)
    operators/  DataFrame-level operators (extraction, dedup, similarity,
                search, multimodal plumbing)
    plans/      job plans: partitioning, checkpoint/lineage, resume
    sources/    readers (parquet, binaryFile, iceberg-behind-import-try)

Importing the package makes ``importlib.invalidate_caches()`` re-read a
zip or jar on ``sys.path`` only when that archive changed on disk
(``_skip_unchanged_zip_rereads``): PySpark calls it at the start of every
Python task, and re-parsing pyspark.zip, the spark-core jar and py4j cost
each task about 0.25 s of Python CPU.
"""

import os
import zipimport

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so that an importer re-reads
    its archive's directory only when the archive's ``(st_mtime_ns,
    st_size, st_ino)`` differs from what it saw at its last read. An
    archive that cannot be stat'ed is always re-read, and so is every
    archive on an importer's first call. Idempotent."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()

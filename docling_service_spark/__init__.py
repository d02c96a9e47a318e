"""docling_service_spark — a from-scratch PySpark-native document-extraction engine.

Re-expresses the capabilities of the reference service
(``Crypto-Gi/docling-service``, a REST-wrapped per-document converter; see
``/root/reference/app/main.py``) as a batch DataFrame program over an
Iceberg-shaped table of interleaved text+media spans:

    (doc_id: string,
     spans: array<struct<kind:string, text:string, media_ref:string, offset:int32>>)

Layering (SURVEY.md §7):

- ``engine/``  — a pure, deterministic Python extraction library with zero
  Spark imports.  One document in, one extraction result out.
- ``sparkio/`` — the thin vectorized Spark shell: ``mapInArrow`` batching,
  salted repartitioning, lineage accumulation, snapshot checkpoint/resume.
- ``queries/`` — relational + training-data-pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing) exposed through
  ``__spark_entry__.queries()`` with DuckDB oracles.
"""

import functools
import os
import sys
import zipimport

__version__ = "0.1.0"


def _reread_changed_zips_only() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when its ``(st_mtime_ns, st_size)`` changed since its last
    read; a deleted or unreadable archive gets the stdlib behaviour.

    ``pyspark.worker_util.setup_spark_files`` calls it before every task on a
    reused Python worker, and on CPython < 3.12 each cached ``zipimporter``
    then re-reads its archive: 16 reads of pyspark.zip, py4j and the
    spark-core jar (5,359 entries), 130-190 ms a task on 4 CPUs.  With this,
    it takes under 0.2 ms, and 64 no-op ``mapInArrow`` tasks take 1.0-1.2 s
    instead of 3.5-4.2 s.  The patch lands when a task first unpickles a
    reference into this package, after that task's set-up, so a fresh
    worker's first task still pays the full re-read, plus one keyed read per
    archive here.  CPython 3.12 reads lazily itself (gh-103200).
    """
    zipimporter = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(zipimporter.invalidate_caches, "__wrapped__"):
        return
    stdlib = zipimporter.invalidate_caches
    read = {}  # archive -> ((st_mtime_ns, st_size) before its last read, files read)

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)
        key = (st.st_mtime_ns, st.st_size)
        last = read.get(self.archive)
        if last and last[0] == key and zipimport._zip_directory_cache.get(self.archive) is last[1]:
            self._files = last[1]
            return
        stdlib(self)
        read[self.archive] = (key, self._files)

    zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimporter):
            finder.invalidate_caches()


_reread_changed_zips_only()

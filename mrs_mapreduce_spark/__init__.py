"""mrs_mapreduce_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``byu-aml-lab/mrs-mapreduce`` ("Mrs").

Mrs is a pure-Python MapReduce framework for iterative/asynchronous
computational-science workloads (PyHPC'12: McNabb, Lund, Seppi — "Mrs: High
Performance MapReduce for Iterative and Asynchronous Algorithms in Python").
This package re-expresses its entire capability surface Spark-first:

* the reference's actual primitives (map / combine / reduce / reducemap /
  partition functions / iterative driver) as a thin RDD-backed parity layer
  (:mod:`mrs_mapreduce_spark.mapreduce`);
* the relational algebra a Mrs user composes by hand (joins, aggregations,
  windows, set ops, scalar functions) as native DataFrame builders that
  Catalyst optimizes (:mod:`mrs_mapreduce_spark.operators`,
  :mod:`mrs_mapreduce_spark.functions`);
* LLM-data-pipeline extensions (dedup, similarity search, text analysis,
  multimodal columns) designed for 100 TB scale
  (:mod:`mrs_mapreduce_spark.llm`);
* event-time streaming via Structured Streaming
  (:mod:`mrs_mapreduce_spark.streaming`).

Provenance note: ``/root/reference`` was empty when this engine was built
(SURVEY.md §0), so reference citations in docstrings use the public repo's
module paths (``mrs/<file>.py::<symbol>``) without line numbers.

Importing the package on a PySpark worker also installs the worker's zip
directory hook (:func:`_stamp_worker_zip_reads`); the driver is untouched.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _archive_stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _stat_checked(reread):
    """``zipimporter.invalidate_caches`` that re-reads an archive's
    directory (through ``reread``, the original method) only when its
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp of this
    importer's last read. An importer never stamped, or whose archive is
    missing, always goes through ``reread``."""

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            reread(self)
            self._dir_stamp = stamp

    invalidate_caches.stat_checked = True
    return invalidate_caches


def _stamp_worker_zip_reads() -> None:
    """Stop a reused Python worker from re-reading every zip on its path
    on every task.

    Each task starts with ``pyspark.worker_util.setup_spark_files``, whose
    ``importlib.invalidate_caches()`` makes every ``zipimporter`` re-read
    its archive's directory; before 3.13 that read is eager (pyspark.zip
    twelve times, the spark-core jar twice: ~0.2 CPU-s a task). A worker
    imports this package only after that task's setup re-read every
    importer, so the importers present now are stamped as just read.
    """
    files = sys.modules.get("pyspark.core.files")
    if (
        sys.version_info >= (3, 13)
        or files is None
        or not files.SparkFiles._is_running_on_worker
        or getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
    ):
        return
    zipimport.zipimporter.invalidate_caches = _stat_checked(
        zipimport.zipimporter.invalidate_caches
    )
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._dir_stamp = _archive_stamp(finder.archive)


_stamp_worker_zip_reads()

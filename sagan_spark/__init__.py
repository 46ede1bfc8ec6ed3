"""sagan_spark — a brand-new PySpark-native log rule-engine pipeline with
the query/data-processing capabilities of the reference log analysis engine
at /root/reference (Sagan 1.2.2 fork).  parse → enrich → route → aggregate
over a transcripts table (conv_id, turn_idx, role, text, tool, ts).

Not a port: execution is DataFrame/Catalyst + vectorized pandas UDFs; only
the *semantics* (SURVEY.md §2) are preserved.

Importing the package also installs a zip-directory guard on CPython 3.10
and 3.11.  pyspark's worker calls ``importlib.invalidate_caches()`` at the
start of every task, and there ``zipimporter.invalidate_caches`` re-reads
the archive's whole central directory, once per importer: about 19
importers per worker (one per pyspark package directory of the 1328-entry
pyspark.zip, plus py4j and this package's shipped zip), 0.10-0.15 s of CPU
per task.  The guard re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from what that importer last
read, or when the stat fails; an unchanged archive would re-read to the
same directory, so imports see the same files.  Every engine UDF a worker
unpickles imports this package, so a reused worker's second task stamps
its importers and no later task re-reads an unchanged zip.  CPython 3.12
made the re-read lazy (gh-103200); there the guard is not installed.
"""

import sys

__version__ = "0.1.0"


def _install_zip_guard() -> None:
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_zip_guard", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        reread(self)
        self._read_stamp = stamp

    invalidate_caches._zip_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if (3, 10) <= sys.version_info < (3, 12):
    _install_zip_guard()

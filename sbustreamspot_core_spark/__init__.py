"""sbustreamspot-core-spark: a PySpark-native link-graph analytics engine.

Re-expresses the capabilities of sbustreamspot/sbustreamspot-core (KDD-2016
StreamSpot: streaming heterogeneous-graph sketching, clustering, anomaly
detection) as idiomatic Spark DataFrame / pandas-UDF / iterative-superstep
jobs, plus the standard link-graph suite (PageRank, connected components,
label propagation, triangle counting) and a web-page -> edge-table front end.
"""

import os
import zipimport

from .config import GraphParams, StreamSpotParams

__all__ = ["GraphParams", "StreamSpotParams"]
__version__ = "0.1.0"


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _install_zip_reread_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed on disk.

    PySpark workers call ``importlib.invalidate_caches()`` at the start of
    every task, and CPython 3.11's zipimporter answers by re-reading the
    whole directory of pyspark.zip (and the py4j zip, and a ``--py-files``
    zip) once per importer instance: ~16 re-reads, ~120 ms of CPU, per
    task.  The guard keys the last read on (inode, size, mtime_ns) and
    shares it between the importers of one archive; an archive whose key
    differs, or that cannot be stat'ed, still goes through the original
    method.  Idempotent.

    Every Arrow kernel of the package is a module-level function, so a
    worker unpickles it by reference and imports this package, which is
    what installs the guard there (``tests/test_worker_overhead.py``)."""
    cls = zipimport.zipimporter
    orig = getattr(cls, "invalidate_caches", None)
    if orig is None or getattr(orig, "_reread_guard", False):
        return
    last_read: dict = {}          # archive -> (stat key, directory)

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        seen = last_read.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = seen[1]
            return
        orig(self)
        # an importer that loads its directory lazily has no _files here:
        # nothing is recorded, so every call keeps delegating
        files = vars(self).get("_files")
        if key is None or files is None:
            last_read.pop(self.archive, None)
        else:
            last_read[self.archive] = (key, files)

    invalidate_caches._reread_guard = True
    invalidate_caches.__doc__ = orig.__doc__
    cls.invalidate_caches = invalidate_caches


_install_zip_reread_guard()

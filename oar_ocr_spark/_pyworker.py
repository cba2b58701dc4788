"""Stop Python workers from re-reading unchanged zip archives per task.

Spark's worker calls ``importlib.invalidate_caches()`` on every task;
before CPython 3.12 (gh-103200) each zipimporter then re-parses its
archive's central directory, ~0.25 s for pyspark.zip and the Spark jar.
Re-read only when the archive's (mtime, size, inode) changed or it
cannot be stat'ed, so a new or rewritten ``addPyFile`` archive is still
re-read: the rule FileFinder applies to directories.
"""

import os
import sys
import zipimport


def _disk_key(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _install():
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_keyed", False):
        return

    def invalidate_caches(self):
        key = _disk_key(self.archive)
        if key is None or key != getattr(self, "_read_key", None):
            reread(self)
            self._read_key = key

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # importers that exist now were read when created or by this task's
    # invalidate_caches() (UDFs import the package while being unpickled)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_key = _disk_key(finder.archive)


if sys.version_info < (3, 12):
    _install()

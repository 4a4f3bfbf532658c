"""Stop each Python-worker task from re-reading pyspark.zip's directory.

pyspark's worker set-up (`worker_util.setup_spark_files`) calls
`importlib.invalidate_caches()` on every task. Before CPython 3.12 that
makes every `zipimporter` re-read its archive's directory, and a worker
holds about 16 of them over the 3.5 MB `pyspark.zip`: 0.1-0.5 s of each
task went there while its UDF ran in 3-40 ms. `keep_zip_directories`
makes an importer re-read its archive only when the archive's (mtime,
size, inode) differs from the last re-read of that archive; otherwise it
takes the directory zipimport already caches for the archive.

`femto_spark/__init__.py` installs it, so a worker has it from the first
task that runs a femto UDF (every UDF's unpickling imports the package)
and, with pyspark's default worker reuse, keeps it for the tasks after.
That task itself still pays the re-reads; each archive is then read once
more, on the next task, to take its stamp. Nothing has to be importable
when the worker starts, so `--py-files` works on every cluster manager.
CPython 3.12+ reads zip directories lazily (gh-103200), so nothing is
changed there.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def keep_zip_directories() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive only when
    it changed on disk; a no-op on CPython 3.12+ or when already done."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or reread.__module__ == __name__:
        return
    stamps = {}  # archive path -> its stamp at the last re-read

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or stamps.get(self.archive) != stamp:
            reread(self)
            stamps[self.archive] = stamp
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches

"""eynollah_spark — a from-scratch PySpark-native document layout-analysis /
main-content extraction engine with the query semantics of qurator-spk/eynollah.

Not a port: the reference's raster/CNN machinery (see /root/reference) is
re-expressed as a relational DataFrame shell around small per-document numpy
kernels that run inside one mapInArrow partition kernel. The preserved invariant is
the reference's *output semantics*: per-document ordered span sequences
(kind, text, media_ref, offset) equal to the PAGE-XML reading order the
reference writes (writer.py:184-290, utils/xml.py:49-66).
"""

__version__ = "0.1.0"

KERNEL_VERSION = 1  # bump when ordering semantics change (lineage manifests record it)


def _install_zipimport_cache() -> None:
    """Make zipimport's per-call directory re-read stat-keyed (Python < 3.13).

    PySpark's worker calls importlib.invalidate_caches() before every task.
    Before 3.13 that makes each cached zipimporter re-parse its archive's
    whole central directory in pure Python: pyspark.zip, the spark-core jar
    on the worker PYTHONPATH, py4j and our shipped zip, 16-19 importers per
    worker: 0.2-0.3 s of CPU per task on a 4-vCPU VM with Python 3.11 and
    Spark 4.1. The replacement re-reads an archive only when its (inode,
    size, mtime) changed since this process last read it, once per archive,
    and shares the result with every importer of that archive, so a
    replaced zip is still picked up. Unpickling any UDF we ship imports
    this package, so every worker running our code gets it."""
    import sys

    if sys.version_info >= (3, 13):  # 3.13 reads the directory lazily
        return
    import os
    import zipimport

    read_keys: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        cache = zipimport._zip_directory_cache
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
            files = cache.get(self.archive)
            if files is None or read_keys.get(self.archive) != key:
                files = zipimport._read_directory(self.archive)
                cache[self.archive] = files
                read_keys[self.archive] = key
            self._files = files
        except (OSError, zipimport.ZipImportError):
            cache.pop(self.archive, None)
            read_keys.pop(self.archive, None)
            self._files = {}

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zipimport_cache()

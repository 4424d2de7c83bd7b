"""The Python worker daemon of every engine session.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts it as ``python -m aqi_featurestore_spark.worker_daemon pyspark.worker``.
It runs pyspark's own daemon, which forks the Python workers and reuses
each one across tasks.

The one difference: before each task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
cached ``zipimporter`` read its archive's whole directory again, and a
worker holds 16 of them over ``pyspark.zip`` (1,328 entries) and the py4j
zip. That re-read was 79% of a reused worker's time on a 4-task job. Here
the directory reader is memoized on (archive path, ``st_mtime_ns``,
``st_size``), before pyspark is imported: each archive is read once per
worker process, read again when it changes on disk, and an archive added
later (``SparkContext.addPyFile``) is read on first use. ``.py`` files go
through ``FileFinder``, which this does not touch.

If ``zipimport`` has no ``_read_directory`` (another interpreter), the
daemon runs unchanged. Importing this module changes nothing; only
running it as ``__main__`` installs the memo.
"""

import os
import zipimport


def memoized(read):
    """``read`` (``zipimport._read_directory``), remembering the last
    directory read per archive path until its mtime or size changes."""
    memo: dict[str, tuple[tuple[int, int], dict]] = {}

    def read_directory(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return read(archive)  # raises the importer's own error
        key = (st.st_mtime_ns, st.st_size)
        hit = memo.get(archive)
        if hit is None or hit[0] != key:
            hit = memo[archive] = (key, read(archive))
        return hit[1]

    return read_directory


if __name__ == "__main__":
    if hasattr(zipimport, "_read_directory"):
        zipimport._read_directory = memoized(zipimport._read_directory)

    from pyspark.daemon import manager

    manager()

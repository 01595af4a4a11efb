"""The Python worker daemon of the engine's sessions
(``spark.python.daemon.module``, set by ``session.build_session``):
``pyspark.daemon`` with one change to how zip archives on ``sys.path``
are invalidated.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory on every call, and a worker holds one importer per package
directory it imported from: pyspark.zip, the spark-core jar and py4j
cost ~26,700 directory entries, ~230 ms of CPU, per task. Here an
archive is re-read only when its ``(st_mtime_ns, st_size)`` changed
since its last read, tracked per archive path and shared by every
importer of that archive. Directory finders are invalidated as before,
so files a task adds (``addPyFile``, SparkFiles) are still found.
Workers fork from this daemon and inherit the change.
"""

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read_archive(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    from pyspark.daemon import manager

    manager()

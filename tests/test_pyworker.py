"""The engine's Python worker daemon (pydaemon.py): a worker re-reads a
zip archive's index on ``importlib.invalidate_caches()`` only when the
archive changed, and ``build_session`` names the daemon."""

import zipfile

from sample_emr_on_eks_fgac_iceberg_spark import pydaemon

DAEMON = pydaemon.__name__


def _in_one_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).mapPartitions(fn).collect()


def test_build_session_names_the_engine_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON


def test_unchanged_archives_are_not_reread_per_task(spark):
    def probe(_):
        import importlib
        import sys
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        yield len(zips), reads

    [(importers, reads)] = _in_one_task(spark, probe)
    assert importers > 0  # the worker does import from zip archives
    assert reads == []


def test_changed_archive_is_reread(spark, tmp_path):
    archive = str(tmp_path / "probe.zip")
    module = f"pyworker_probe_{tmp_path.name.replace('-', '_')}"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{module}.py", "v = 1\n")

    def probe(_):
        import importlib
        import sys

        sys.path.insert(0, archive)
        try:
            m = importlib.import_module(module)
            before = m.v
            # a stale index would read the module at its old offset,
            # where the rewritten archive (a different size) keeps v = 0
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{module}_pad.py", "v = 0\n")
                z.writestr(f"{module}.py", "v = 2\n")
            importlib.invalidate_caches()
            yield before, importlib.reload(m).v
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop(module, None)

    assert _in_one_task(spark, probe) == [(1, 2)]

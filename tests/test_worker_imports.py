"""The zipimporter re-read guard (session._reread_zips_only_on_change):
pyspark's worker calls ``importlib.invalidate_caches()`` before every
task, and on CPython < 3.13 every zipimporter on ``sys.path`` then
re-reads its whole archive directory. With the guard, an archive is
re-read only when its stat changed."""

from __future__ import annotations

import contextlib
import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimporters drop their cache without reading"
)


@contextlib.contextmanager
def _archive_reads():
    """Yield the list of archives ``zipimport`` reads inside the block."""
    reads = []
    original = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return original(archive)

    zipimport._read_directory = counted
    try:
        yield reads
    finally:
        zipimport._read_directory = original


def test_unchanged_archive_is_not_reread(tmp_path):
    import fuserank_spark.session  # noqa: F401  (installs the guard)

    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_zip_probe_a.py", "A = 1\n")
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("_zip_probe_a").A == 1
        importlib.invalidate_caches()
        with _archive_reads() as reads:
            importlib.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("_zip_probe_b.py", "B = 2\n")
        with _archive_reads() as reads:
            importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("_zip_probe_b").B == 2

        (tmp_path / "probe.zip").unlink()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("_zip_probe_a", "_zip_probe_b"):
            sys.modules.pop(name, None)


def test_install_stamps_archives_older_than_the_process(tmp_path, monkeypatch):
    """Installing the guard stamps the importers already cached whose
    archive predates the process: the first guarded call skips them.
    An archive modified after the process started is re-read."""
    import os

    from fuserank_spark import session

    unguarded = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__", None)
    assert unguarded is not None, "the guard keeps no handle on the method it wraps"
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", unguarded)
    archives = {}
    for name in ("old", "new"):
        archives[name] = str(tmp_path / f"{name}.zip")
        with zipfile.ZipFile(archives[name], "w") as z:
            z.writestr(f"_zip_stamp_{name}.py", "X = 1\n")
    os.utime(archives["old"], (1e9, 1e9))  # 2001: long before this process
    monkeypatch.syspath_prepend(archives["old"])
    monkeypatch.syspath_prepend(archives["new"])
    try:
        for name in archives:
            assert importlib.import_module(f"_zip_stamp_{name}").X == 1
        session._reread_zips_only_on_change()  # installs over the unguarded method
        with _archive_reads() as reads:
            importlib.invalidate_caches()
        assert archives["old"] not in reads
        assert archives["new"] in reads
    finally:
        for name, archive in archives.items():
            sys.path_importer_cache.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)
            sys.modules.pop(f"_zip_stamp_{name}", None)


def test_guard_installs_once():
    from fuserank_spark import session

    guard = zipimport.zipimporter.invalidate_caches
    session._reread_zips_only_on_change()
    assert zipimport.zipimporter.invalidate_caches is guard


def test_worker_task_rereads_no_unchanged_archive(spark):
    """A Python worker that unpickled a package function re-reads no
    unchanged archive on the per-task ``invalidate_caches()``."""
    from fuserank_spark.kernels import round_half_away
    from fuserank_spark.search import topk_batch
    from fuserank_spark.session import local_frame

    corpus = spark.range(8).select(
        F.col("id").alias("row_id"),
        F.array(*[(F.col("id") + i).cast("double") for i in range(4)]).alias("vector"),
    )
    queries = local_frame(spark, [(0, [1.0, 0.0, 0.0, 0.0])], "query_id bigint, qvec array<double>")
    assert len(topk_batch(corpus, queries, k=2).collect()) == 2

    def probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        round_half_away(0.5, 0)  # unpickled by reference: the worker imported the package
        importlib.invalidate_caches()  # stamps importers this worker has not stamped yet
        with _archive_reads() as reads:
            importlib.invalidate_caches()
        zips = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({"zips": [len(zips)], "reads": [len(reads)]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "zips bigint, reads bigint").collect()
    assert rows[0]["zips"] > 0, "the worker imports nothing from an archive: the check is vacuous"
    assert rows[0]["reads"] == 0

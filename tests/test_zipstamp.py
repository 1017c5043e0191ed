"""Zip importers re-read their archive's directory only when the
archive changed (`modelardb_spark.zipstamp`): in this interpreter on a
zip built here, and in Spark's Python workers, which invalidate the
import caches at the start of every task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from modelardb_spark import zipstamp

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12)
    or not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="zipimport re-reads lazily on this interpreter",
)


def _count_reads(fn) -> list[str]:
    """Archives whose directory is read while `fn()` runs."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = read
    return reads


@needs_eager_reread
def test_unchanged_archive_not_reread_rewritten_archive_is(tmp_path):
    zipstamp.install()
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zs_m1.py", "X = 1\n")
    sys.path.insert(0, archive)
    try:
        import zs_m1

        assert zs_m1.X == 1
        reads = _count_reads(importlib.invalidate_caches)
        assert archive not in reads
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zs_m1.py", "X = 1\n")
            z.writestr("zs_m2.py", "Y = 2\n")
        reads = _count_reads(importlib.invalidate_caches)
        assert reads.count(archive) == 1
        import zs_m2

        assert zs_m2.Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zs_m1", None)
        sys.modules.pop("zs_m2", None)


@needs_eager_reread
def test_worker_tasks_skip_unchanged_archive_rereads(spark):
    """A worker that ran engine code in an earlier task re-reads no
    archive on `importlib.invalidate_caches()`. Spark hands a task any
    idle worker, so the probe marks each worker it ran in and runs
    until some task lands in a worker it already ran in."""

    def probe(batches):
        for _ in batches:
            pass
        # referencing the module makes its unpickling import the engine
        assert zipstamp is not None
        seen = getattr(sys, "_zipstamp_probe_seen", False)
        sys._zipstamp_probe_seen = True
        zips = {
            v.archive
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        }
        reads = _count_reads(importlib.invalidate_caches)
        yield pd.DataFrame(
            {"seen": [seen], "zips": [len(zips)], "reads": [len(reads)]}
        )

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, n)
    rows = []
    for _ in range(10):
        rows += df.mapInPandas(probe, "seen boolean, zips int, reads int").collect()
        if any(r["seen"] for r in rows):
            break
    if not any(r["zips"] for r in rows):
        pytest.skip("Python workers import nothing from a zip archive")
    again = [r for r in rows if r["seen"]]
    assert again, "no worker ran two probe tasks"
    assert all(r["zips"] > 0 for r in again)
    assert [r["reads"] for r in again] == [0] * len(again)

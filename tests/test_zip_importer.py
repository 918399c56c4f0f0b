"""Per-task import cost of Python workers (session.StatCheckedZipImporter):
``importlib.invalidate_caches()``, which Spark's worker calls before every
task, must not re-read an unchanged zip on ``sys.path``, and must still
re-read one that was rewritten."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from multithreaded_map_reduce_library_spark.session import StatCheckedZipImporter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unchanged_zip_not_reread_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("_zipprobe_a.py", "A = 1\n")
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_zipprobe_a").A == 1
        assert type(sys.path_importer_cache[archive]) is StatCheckedZipImporter
        reads.clear()

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("_zipprobe_a.py", "A = 1\n")
            zf.writestr("_zipprobe_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("_zipprobe_b").B == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("_zipprobe_a", None)
        sys.modules.pop("_zipprobe_b", None)


def test_read_racing_a_rewrite_is_read_again(tmp_path, monkeypatch):
    """A stamp vouches only for a directory read after it was taken. When
    the archive is rewritten right after a finder read it, the next
    invalidation reads it again: for that finder, and for a sub-path
    finder that took the stale directory from zipimport's shared cache."""
    archive = str(tmp_path / "race.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("_zipprobe_c.py", "C = 1\n")
        zf.writestr("pkgc/__init__.py", "")
    read = zipimport._read_directory
    raced: list[bool] = []

    def racing(path):
        files = read(path)
        if path == archive and not raced:
            raced.append(True)
            with zipfile.ZipFile(archive, "a") as zf:
                zf.writestr("_zipprobe_d.py", "D = 1\n")
                zf.writestr("pkgc/d.py", "D = 1\n")
        return files

    monkeypatch.setattr(zipimport, "_read_directory", racing)
    try:
        top = StatCheckedZipImporter(archive)
        sub = StatCheckedZipImporter(os.path.join(archive, "pkgc"))
        assert raced
        assert top.find_spec("_zipprobe_d") is None
        assert sub.find_spec("pkgc.d") is None
        top.invalidate_caches()
        sub.invalidate_caches()
        assert top.find_spec("_zipprobe_d") is not None
        assert sub.find_spec("pkgc.d") is not None
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


# Runs as its own Spark application: the worker-reuse check needs local[1],
# so that every job lands on the one Python worker the first job warmed.
_WORKER_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from multithreaded_map_reduce_library_spark.session import get_spark

spark = get_spark(app_name="zip-importer-probe", master="local[1]", shuffle_partitions=1)
sc = spark.sparkContext


def warm(_):
    import os, zipimport
    import multithreaded_map_reduce_library_spark  # noqa: F401

    reads = zipimport._probe_reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    zipimport._read_directory = counted
    return os.getpid()


def task(_):
    import os
    return os.getpid()


def report(_):
    import os, sys, zipimport
    zips = [
        type(f).__name__
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    return os.getpid(), len(zipimport._probe_reads), zips


pids = sc.parallelize([0], 1).map(warm).collect()
for _ in range(10):
    pids += sc.parallelize([0], 1).map(task).collect()
pid, reads, zips = sc.parallelize([0], 1).map(report).collect()[0]
spark.stop()
print(json.dumps({"pids": sorted(set(pids + [pid])), "reads": reads, "zips": zips}))
"""


def test_worker_tasks_skip_zip_rereads(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE, _REPO],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(got["pids"]) == 1, f"jobs ran on several workers: {got['pids']}"
    assert got["zips"], "worker has no zip finders; the probe checks nothing"
    assert set(got["zips"]) == {"StatCheckedZipImporter"}, got["zips"]
    assert got["reads"] == 0

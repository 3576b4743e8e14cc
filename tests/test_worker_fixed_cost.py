"""The zip-directory guard (tileigi_spark.zipguard): importlib's
invalidate_caches() must not re-read an unchanged archive's directory,
in this process and in the Spark Python workers, which call it at the
start of every task. Python >= 3.13 re-reads lazily and gets no guard."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import tileigi_spark
from tileigi_spark import zipguard

pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="zipimport re-reads lazily")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding a module and a package, first on sys.path; yields
    (archive path, list of archives _read_directory was called on)."""
    archive = str(tmp_path / "zg.zip")
    _write_zip(archive, {"zg_mod_a.py": "A = 1\n",
                         "zg_pkg/__init__.py": "",
                         "zg_pkg/sub.py": "S = 2\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield archive, reads
    for mod in ("zg_mod_a", "zg_mod_b", "zg_pkg", "zg_pkg.sub"):
        sys.modules.pop(mod, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    import zg_mod_a
    import zg_pkg.sub
    assert (zg_mod_a.A, zg_pkg.sub.S) == (1, 2)
    assert reads == [archive]
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_zip_is_reread(zip_on_path):
    archive, reads = zip_on_path
    import zg_mod_a  # noqa: F401
    with pytest.raises(ImportError):
        import zg_mod_b  # noqa: F401
    _write_zip(archive, {"zg_mod_a.py": "A = 1\n",
                         "zg_mod_b.py": "B = 3\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zg_mod_b
    assert zg_mod_b.B == 3
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_unreadable_zip_falls_through(zip_on_path):
    archive, _ = zip_on_path
    import zg_mod_a  # noqa: F401
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert not hasattr(importer, zipguard._SIG)


def test_guard_wraps_once():
    cls = zipimport.zipimporter
    before = (cls.__init__, cls.invalidate_caches)
    importlib.reload(tileigi_spark)
    importlib.reload(zipguard)
    zipguard.install()
    assert (cls.__init__, cls.invalidate_caches) == before
    for fn in before:
        assert not hasattr(fn.__wrapped__, "__wrapped__")


def test_workers_skip_unchanged_zip_rereads(spark):
    """Each worker runs this probe with the guard installed by unpickling
    it (the probe refers to tileigi_spark.zipguard, as engine functions
    refer to the package). A first job installs a counting spy on
    zipimport._read_directory in each worker and stamps every importer;
    the second job's tasks, whose setup calls importlib.invalidate_caches,
    must leave every worker's read count where the first job left it."""
    def probe(iterator):
        import importlib
        import os
        import zipimport

        spy = zipimport._read_directory
        fresh = not hasattr(spy, "reads")
        if fresh:
            real = spy

            def spy(path):
                spy.reads += 1
                return real(path)

            spy.reads = 0
            zipimport._read_directory = spy
            # importers made before the guard was installed are stamped
            # by their first guarded call
            importlib.invalidate_caches()
        for _ in iterator:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "guard": [bool(getattr(zipimport.zipimporter, zipguard._MARK,
                                   False))],
            "fresh": [fresh],
            "reads": [spy.reads]})

    # Spark hands idle workers out first in, first out, so a job of a
    # few tasks per core cycles through every idle worker earlier tests
    # left, and the second job meets only workers the first one spied on
    parts = spark.sparkContext.defaultParallelism * 8
    schema = "pid long, guard boolean, fresh boolean, reads long"

    def job():
        return spark.range(0, parts, 1, parts) \
            .mapInPandas(probe, schema).toPandas()

    first, second = job(), job()
    assert first["guard"].all() and second["guard"].all()
    reused = second[~second["fresh"]]
    assert len(reused), "no worker of the first job ran a second-job task"
    both = pd.concat([first, second])
    for pid, reads in both.groupby("pid")["reads"]:
        assert reads.nunique() == 1, (pid, sorted(reads))

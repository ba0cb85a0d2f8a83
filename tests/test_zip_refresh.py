"""Lazy zip-importer refresh (lexoid_spark/zip_refresh.py).

pyspark's worker calls ``importlib.invalidate_caches()`` at every task
start; on CPython < 3.13 each cached zipimporter then re-reads its
archive's directory. ``LazyZipImporter`` re-reads only an archive whose
``(st_mtime_ns, st_size)`` changed, or whose stat fails.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order.
    Restores the process's import hooks and importer classes after."""
    from lexoid_spark import zip_refresh

    seen = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        seen.append(archive)
        return real_read(archive)

    hooks = list(sys.path_hooks)
    plain = [imp for imp in sys.path_importer_cache.values()
             if type(imp) is zipimport.zipimporter]
    stamps = dict(zip_refresh._STAMPS)
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield seen
    sys.path_hooks[:] = hooks
    for imp in plain:
        imp.__class__ = zipimport.zipimporter
    zip_refresh._STAMPS.clear()
    zip_refresh._STAMPS.update(stamps)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, reads):
    from lexoid_spark.zip_refresh import LazyZipImporter, install

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zr_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zr_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "zr_mod_b", raising=False)
    import zr_mod_a  # noqa: F401 — caches a plain zipimporter

    install()
    assert type(sys.path_importer_cache[archive]) is LazyZipImporter
    assert LazyZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks

    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    # rewritten in place (new size, new mtime): read again, exactly once
    _write_zip(archive, {"zr_mod_a": "X = 1\n", "zr_mod_b": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zr_mod_b

    assert zr_mod_b.Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    # a vanished archive: the stat fails, so it is read (and fails) as
    # the stock importer would, without raising
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_importers_made_after_install_are_lazy(tmp_path, monkeypatch, reads):
    from lexoid_spark.zip_refresh import LazyZipImporter, install

    install()
    archive = str(tmp_path / "late.zip")
    _write_zip(archive, {"zr_mod_late": "Z = 3\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zr_mod_late", raising=False)
    import zr_mod_late

    assert zr_mod_late.Z == 3
    assert type(sys.path_importer_cache[archive]) is LazyZipImporter
    reads.clear()
    importlib.invalidate_caches()  # first refresh stamps the new archive
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_worker_importers_are_lazy_after_a_dispatch_task(spark):
    """After a Python worker has run a dispatch-kernel task, every zip
    importer it caches is lazy, and its task-start refresh re-reads no
    archive (pyspark.zip, py4j, the spark-core jar are unchanged)."""
    import pandas as pd

    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.plans.extract import extract

    docs = extract(pages_df(spark, 16), repartition=False)["docs"]
    docs.write.format("noop").mode("overwrite").save()

    def probe(batches):
        import importlib as il
        import os as o
        import sys as s
        import zipimport as zi

        for _ in batches:
            real_read, n_reads = zi._read_directory, []

            def counting_read(archive):
                n_reads.append(archive)
                return real_read(archive)

            zi._read_directory = counting_read
            try:
                il.invalidate_caches()
            finally:
                zi._read_directory = real_read
            kinds = sorted({type(v).__name__
                            for v in s.path_importer_cache.values()
                            if isinstance(v, zi.zipimporter)})
            yield pd.DataFrame({
                "pid": [o.getpid()],
                "ran_lexoid": ["lexoid_spark" in s.modules],
                "kinds": [",".join(kinds)],
                "reads": [len(n_reads)],
            })

    rows = spark.range(16, numPartitions=8).mapInPandas(
        probe, "pid long, ran_lexoid boolean, kinds string, reads long",
    ).collect()
    ran = [r for r in rows if r.ran_lexoid]
    assert ran, rows
    for r in ran:
        assert r.kinds == "LazyZipImporter", r
        assert r.reads == 0, r

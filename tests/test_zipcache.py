"""The zip-directory hook (``sketches_rust_spark._task_hooks``): an archive is
re-read on ``importlib.invalidate_caches()`` only when its (mtime, size)
changed, and Python workers that ran a library UDF carry the hook."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from sketches_rust_spark import _task_hooks

HOOK_MODULE = "sketches_rust_spark._task_hooks"
MTIME_NS = 1_700_000_000 * 10**9
PAD = "zc_pad.py"


def _write_zip(path, files: dict, mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for member, body in files.items():
            zf.writestr(member, body)
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """(path, module name) of a zip on sys.path holding ``VALUE = 1``."""
    name = f"zc_mod_{uuid.uuid4().hex}"
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {f"{name}.py": "VALUE = 1\n", PAD: "VALUE = 9\n"},
               MTIME_NS)
    monkeypatch.syspath_prepend(path)
    yield path, name
    sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.mark.parametrize("value,mtime_ns", [
    ("'two'", MTIME_NS + 10**9),  # new size and new mtime
    ("2", MTIME_NS + 10**9),      # same size, new mtime
    ("22", MTIME_NS),             # new size, same mtime
])
def test_rewritten_archive_is_read(archive, value, mtime_ns):
    path, name = archive
    assert importlib.import_module(name).VALUE == 1
    importlib.invalidate_caches()  # the importer now holds v1's stamp
    # the module moves behind the pad, so a stale directory finds VALUE = 9
    _write_zip(path, {PAD: "VALUE = 9\n", f"{name}.py": f"VALUE = {value}\n"},
               mtime_ns)
    importlib.invalidate_caches()
    del sys.modules[name]
    assert repr(importlib.import_module(name).VALUE) == value


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    path, name = archive
    importlib.import_module(name)
    importlib.invalidate_caches()  # first call after the import reads
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)


def test_deleted_archive_empties_importer(archive):
    path, name = archive
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    assert f"{name}.py" in importer._files
    with open(path, "rb") as f:
        data = f.read()
    os.remove(path)
    importer.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    # restored with the same bytes and mtime, as ``cp -p`` would
    with open(path, "wb") as f:
        f.write(data)
    os.utime(path, ns=(MTIME_NS, MTIME_NS))
    importer.invalidate_caches()
    assert f"{name}.py" in importer._files


def test_second_install_is_a_noop():
    hook, ack = zipimport.zipimporter.invalidate_caches, importlib.invalidate_caches
    assert hook.__module__ == HOOK_MODULE  # installed by the package import
    _task_hooks.install()
    assert zipimport.zipimporter.invalidate_caches is hook
    assert importlib.invalidate_caches is ack
    assert _task_hooks._zip_original.__module__ == "zipimport"


def _library_task(spark):
    from sketches_rust_spark import ddsketch_aggregate

    df = spark.range(0, 400, numPartitions=4).selectExpr(
        "CAST(id % 4 AS STRING) AS k", "CAST(id AS DOUBLE) AS v")
    assert len(ddsketch_aggregate(df, "v", ["k"]).collect()) == 4


def test_worker_has_hook_after_library_task(spark):
    _library_task(spark)

    def report(batches):
        import sys
        import zipimport

        import pandas as pd
        for _ in batches:
            pass
        yield pd.DataFrame({
            "hooked": [zipimport.zipimporter.invalidate_caches.__module__
                       == HOOK_MODULE],
            "imported": ["sketches_rust_spark" in sys.modules]})

    n = spark.sparkContext.defaultParallelism
    rows = (spark.range(0, n, numPartitions=n)
            .mapInPandas(report, "hooked boolean, imported boolean").collect())
    assert len(rows) == n
    assert all(r.hooked == r.imported for r in rows)
    assert any(r.hooked for r in rows)


def test_archive_added_later_is_read_by_patched_workers(spark, tmp_path):
    _library_task(spark)
    name = f"zc_added_{uuid.uuid4().hex}"
    token = uuid.uuid4().hex
    path = tmp_path / f"{name}.zip"
    _write_zip(path, {f"{name}.py": f"VALUE = {token!r}\n"}, MTIME_NS)
    spark.sparkContext.addPyFile(str(path))

    def load(batches):
        import importlib
        import zipimport

        import pandas as pd
        for _ in batches:
            pass
        yield pd.DataFrame({
            "value": [importlib.import_module(name).VALUE],
            "hooked": [zipimport.zipimporter.invalidate_caches.__module__
                       == HOOK_MODULE]})

    n = spark.sparkContext.defaultParallelism
    rows = (spark.range(0, n, numPartitions=n)
            .mapInPandas(load, "value string, hooked boolean").collect())
    assert {r.value for r in rows} == {token}
    assert any(r.hooked for r in rows)

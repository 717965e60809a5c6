"""The package's guard on ``zipimporter.invalidate_caches``: an importer
re-reads its zip archive only when the archive changed on disk."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from text_extraction_evaluation_spark import _zipcache

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch) -> list[str]:
    """Archives whose central directory is read, in call order."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    sys.path_importer_cache.pop(str(path), None)
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)


@needs_guard
def test_unchanged_archive_is_read_once(archive, reads):
    import zc_mod_a

    assert zc_mod_a.X == 1
    importlib.invalidate_caches()  # first guarded pass keys every importer
    assert str(archive) in reads
    n = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads[n:] == []


@needs_guard
def test_rewritten_archive_is_reread(archive, reads):
    import zc_mod_a  # noqa: F401

    # a second importer over the same archive, keyed by its own read
    other = zipimport.zipimporter(str(archive))
    importlib.invalidate_caches()
    other.invalidate_caches()
    _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    n = len(reads)
    importlib.invalidate_caches()
    assert reads[n:] == [str(archive)]
    # the path importer's re-read must not make the other one skip
    other.invalidate_caches()
    assert reads[n:] == [str(archive)] * 2
    assert other.find_spec("zc_mod_b") is not None
    import zc_mod_b

    assert zc_mod_b.Y == 2


def test_no_guard_on_python_313(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    stock = getattr(method, "__wrapped__", method)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    assert not _zipcache.installed()


@needs_guard
def test_importing_the_package_again_does_not_double_wrap(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    assert _zipcache.installed()
    assert not getattr(method.__wrapped__, "unchanged_archive_guard", False)
    # fresh module objects run __init__ and install() again
    monkeypatch.delitem(sys.modules, "text_extraction_evaluation_spark")
    monkeypatch.delitem(sys.modules, "text_extraction_evaluation_spark._zipcache")
    importlib.import_module("text_extraction_evaluation_spark")
    assert zipimport.zipimporter.invalidate_caches is method


@needs_guard
def test_guard_reaches_spark_workers(spark):
    """PySpark calls importlib.invalidate_caches() before every task.
    Once a worker has unpickled a function that imports the package,
    that call must be the guarded one and read no archive."""

    def probe(batches):
        import zipimport

        import pyarrow as pa

        import text_extraction_evaluation_spark  # noqa: F401

        counter = getattr(zipimport, "_probe_reads", None)
        if counter is None:  # first probe task on this worker
            import importlib

            counter = zipimport._probe_reads = [0]
            real = zipimport._read_directory

            def counting(archive):
                counter[0] += 1
                return real(archive)

            zipimport._read_directory = counting
            importlib.invalidate_caches()
            since_last_task = -1
        else:
            since_last_task = counter[0] - zipimport._probe_seen
        for _ in batches:
            pass
        zipimport._probe_seen = counter[0]
        yield pa.RecordBatch.from_pydict(
            {
                "guarded": [
                    getattr(
                        zipimport.zipimporter.invalidate_caches,
                        "unchanged_archive_guard",
                        False,
                    )
                ],
                "reads": [since_last_task],
            }
        )

    schema = "guarded boolean, reads long"
    rows = spark.range(0, 16, numPartitions=16).mapInArrow(probe, schema).collect()
    assert len(rows) == 16
    assert all(r.guarded for r in rows)
    later = [r for r in rows if r.reads >= 0]
    # 16 tasks on at most 4 concurrent reused workers
    assert later, "no worker ran a second probe task"
    assert [r.reads for r in later] == [0] * len(later)

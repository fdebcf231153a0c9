"""``importlib.invalidate_caches()`` skips unchanged zip archives.

Importing ``readur_spark`` wraps ``zipimporter.invalidate_caches`` so an
importer re-reads its archive's directory only when the archive's stat
stamp changed since that importer's last read. PySpark calls
``invalidate_caches`` at the start of every Python task so that files
added with ``addPyFile`` become importable; that contract must hold.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import readur_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m_a"])
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("m_a", "m_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    import m_a

    assert m_a.NAME == "m_a"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    # an importer's first call reads and stamps: it cannot know when its
    # directory was read before the wrapper saw it
    importlib.invalidate_caches()
    directory = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is directory
    assert zipimport._zip_directory_cache[archive] is directory


def test_archive_rewritten_in_place_is_reread(archive):
    import m_a  # noqa: F401

    importlib.invalidate_caches()
    # addPyFile's case: the same path, a new archive with one more module
    _write_zip(archive, ["m_a", "m_b"])
    importlib.invalidate_caches()
    import m_b

    assert m_b.NAME == "m_b"


def test_archive_that_cannot_be_stated_is_reread(archive):
    import m_a  # noqa: F401

    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    assert "m_a.py" in importer._files
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_wraps_once():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped._skips_unchanged
    readur_spark._skip_unchanged_zip_rereads()
    readur_spark._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_python_workers_keep_unchanged_zip_directories(spark):
    """After an engine UDF ran, a task on the same workers calls
    ``invalidate_caches`` without re-reading pyspark.zip and the jars."""
    from readur_spark.corpus import docs_dataframe
    from readur_spark.operators.extract import extract_spans

    docs = docs_dataframe(spark, 40, seed=3, num_partitions=4)
    extract_spans(docs).write.format("noop").mode("overwrite").save()

    def probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        # unpickling this closure imported the package in the worker
        imported = readur_spark.__name__ in sys.modules
        guarded = getattr(
            zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False
        )
        archives = sorted(
            {
                imp.archive
                for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)
            }
        )
        importlib.invalidate_caches()
        before = [zipimport._zip_directory_cache.get(a) for a in archives]
        importlib.invalidate_caches()
        after = [zipimport._zip_directory_cache.get(a) for a in archives]
        kept = all(b is not None and a is b for a, b in zip(after, before))
        yield pa.RecordBatch.from_pydict(
            {
                "zips": [len(archives)],
                "guarded": [imported and guarded],
                "kept": [kept],
            }
        )

    rows = docs.select("doc_id").mapInArrow(
        probe, "zips long, guarded boolean, kept boolean"
    ).collect()
    assert len(rows) == 4
    if not any(r["zips"] for r in rows):
        pytest.skip("the Python workers import nothing from a zip")
    assert all(r["guarded"] for r in rows)
    assert all(r["kept"] for r in rows if r["zips"])

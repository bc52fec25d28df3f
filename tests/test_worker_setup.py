"""Python worker task set-up: ``session.skip_unchanged_zip_rereads`` makes
a zipimporter re-read its archive's directory only when the archive
changed, and the int8 scoring kernel installs it in the workers that
run it."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``m1`` on ``sys.path``, ``m1`` imported, and
    every ``_read_directory`` call on it counted. The class method is
    restored at teardown."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    import m1  # noqa: F401  (creates the archive's zipimporter)

    reads = []
    orig_read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return orig_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_zip_reread_guard_reads_only_changed_archives(zip_on_path, tmp_path):
    from pythonvectordb_spark.session import skip_unchanged_zip_rereads

    archive, reads = zip_on_path
    skip_unchanged_zip_rereads()
    wrapped = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()  # (d) installing twice wraps once
    assert zipimport.zipimporter.invalidate_caches is wrapped

    importlib.invalidate_caches()  # the importer's first stamp costs one read
    assert len(reads) == 1
    # (a) an unchanged archive is not re-read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1

    # (b) a rewritten archive is re-read once, and its new module imports
    _write_zip(archive, ["m1", "m2"])
    importlib.invalidate_caches()
    assert len(reads) == 2
    import m2

    assert m2.NAME == "m2"

    # (c) a deleted archive falls through to the original method
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()


def test_kernel_installs_zip_reread_guard(spark):
    """After two ``knn_join`` runs over as many partitions as cores, a
    later task in the reused workers sees the wrapped method."""
    from pythonvectordb_spark.operators.search import knn_join, with_qvec
    from pythonvectordb_spark.sources.testdata import load_table

    n = spark.sparkContext.defaultParallelism
    table = with_qvec(load_table(spark, SF_SMOKE, "embeddings")).repartition(n)
    vec = [float(x) for x in table.select("embedding").first()[0]]
    q = spark.createDataFrame([(0, vec)], "query_id long, qvec_query array<double>")
    for _ in range(2):
        assert len(knn_join(table, q, k=3).collect()) == 3

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"seen": [bool(getattr(fn, "skips_unchanged", False))]})

    seen = [r.seen for r in table.select("vec_id").mapInPandas(probe, "seen boolean").collect()]
    assert len(seen) == n
    assert any(seen), seen

"""Python worker set-up: ``daemon.skip_unchanged_zip_rereads`` makes a
zipimporter re-read its archive's directory only when the archive
changed, and the worker daemon ``get_spark`` names installs it before it
forks any worker. ``get_spark`` also lets workers import the package
whatever the driver's cwd is."""

import hashlib
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from tests.conftest import REPO


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
    from pythonvectordb_spark.daemon import skip_unchanged_zip_rereads

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


# a task that reports whether its worker has the guard; exec'd where it is
# used, so the task pickles by value, not by a reference to this module
_PROBE = """
def sees_guard(_):
    import zipimport

    yield bool(getattr(zipimport.zipimporter.invalidate_caches, "skips_unchanged", False))
"""


def test_every_worker_has_zip_reread_guard(spark):
    """Tasks of a plain RDD job, in workers that never ran a package UDF,
    see the wrapped method: the daemon installed it before forking."""
    ns = {}
    exec(_PROBE, ns)
    n = spark.sparkContext.defaultParallelism
    seen = spark.sparkContext.parallelize(range(n), n).mapPartitions(ns["sees_guard"]).collect()
    assert seen == [True] * n


_OUTSIDE_REPO = """
import json, sys
sys.path.insert(0, {repo!r})
from pythonvectordb_spark.session import get_spark
from pythonvectordb_spark.operators.media import media_features, text_as_media
{probe}
spark = get_spark("outside-repo", master="local[2]")
df = spark.createDataFrame([(1, "ab"), (2, "xyz")], "doc_id long, text string")
rows = sorted(tuple(r) for r in media_features(text_as_media(df)).collect())
seen = spark.sparkContext.parallelize(range(2), 2).mapPartitions(sees_guard).collect()
print(json.dumps({{"rows": rows, "seen": seen}}))
spark.stop()
"""

_FRESH_IMPORT = """
import json, sys
sys.path.insert(0, {repo!r})
import pythonvectordb_spark.daemon
heavy = [m for m in ("numpy", "pandas", "pyarrow", "pyspark.sql") if m in sys.modules]
import pythonvectordb_spark as pv
missing = [n for n in pv.__all__ if getattr(pv, n, None) is None]
print(json.dumps({{"heavy": heavy, "missing": missing}}))
"""


def _run(script, cwd, env):
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_workers_import_package_from_any_driver_cwd(tmp_path):
    """A driver whose cwd cannot import the package still runs a UDF
    pickled by reference (``media_features``) and gets guarded workers.
    In a fresh interpreter the daemon module loads no numpy, pandas,
    pyarrow or ``pyspark.sql``, and every public name resolves."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    got = _run(_OUTSIDE_REPO.format(repo=str(REPO), probe=_PROBE), tmp_path, env)
    assert got["rows"] == [
        [i, len(t), hashlib.md5(t.encode()).hexdigest()] for i, t in ((1, "ab"), (2, "xyz"))
    ]
    assert got["seen"] == [True, True]

    got = _run(_FRESH_IMPORT.format(repo=str(REPO)), tmp_path, env)
    assert got == {"heavy": [], "missing": []}

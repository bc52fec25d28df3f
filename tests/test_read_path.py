"""The one parquet read path (``sources.testdata._read_parquet``): a warm
``load_table`` and every ``load_snapshot`` run no Spark job, a rewritten
file is re-inferred, and no other module under ``sources/`` or
``registry/`` calls ``spark.read.parquet`` itself."""

import ast
import json
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import REPO, SF_SMOKE


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _sf_copy(tmp_path, table, ts_unit=None):
    """A one-table sf dir under tmp_path, optionally with ``ts`` stored
    in another parquet time unit."""
    t = pq.read_table(f"{SF_SMOKE}/{table}.parquet")
    if ts_unit:
        t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp(ts_unit)))
    pq.write_table(t, tmp_path / f"{table}.parquet")
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", ["events", "lineitem", "events_nanos"])
def test_warm_load_table_runs_no_job(spark, tmp_path, monkeypatch, kind):
    from pythonvectordb_spark.sources import testdata

    table, sf_dir = kind, SF_SMOKE
    if kind == "events_nanos":  # ts stored as TIMESTAMP(NANOS): the nanosAsLong path
        table, sf_dir = "events", str(tmp_path)
        _sf_copy(tmp_path, table, ts_unit="ns")
    testdata.load_table(spark, sf_dir, table)
    warm, jobs = _jobs(spark, f"warm-{kind}", lambda: testdata.load_table(spark, sf_dir, table))
    assert jobs == 0
    monkeypatch.setattr(testdata, "_SCHEMAS", {})
    cold, jobs = _jobs(spark, f"cold-{kind}", lambda: testdata.load_table(spark, sf_dir, table))
    assert jobs == 1  # the footer-inference job the memo saves
    assert warm.schema == cold.schema
    if table == "events":
        assert dict(warm.dtypes)["ts"] == "timestamp"
    assert _rows(warm) == _rows(cold)


def test_rewritten_table_is_reinferred(spark, tmp_path):
    from pythonvectordb_spark.sources.testdata import load_table

    t = _sf_copy(tmp_path, "events")
    assert "extra" not in load_table(spark, str(tmp_path), "events").columns
    pq.write_table(t.append_column("extra", pa.array([1] * t.num_rows)), tmp_path / "events.parquet")
    back = load_table(spark, str(tmp_path), "events")
    assert "extra" in back.columns
    assert back.agg({"extra": "sum"}).first()[0] == t.num_rows


def test_load_snapshot_runs_no_job(spark, tmp_path):
    from pythonvectordb_spark.operators.search import with_qvec
    from pythonvectordb_spark.sources import snapshot as SN
    from pythonvectordb_spark.sources.testdata import load_table

    path = str(tmp_path / "snap")
    SN.save_snapshot(with_qvec(load_table(spark, SF_SMOKE, "embeddings")), path, dim=64, num_files=4)
    back, jobs = _jobs(spark, "load-snapshot", lambda: SN.load_snapshot(spark, path, expected_dim=64))
    assert jobs == 0
    inferred = spark.read.parquet(path)
    assert back.schema == inferred.schema
    assert _rows(back.select("vec_id", "qvec")) == _rows(inferred.select("vec_id", "qvec"))

    # a sidecar written before the schema was stored still loads
    legacy = str(tmp_path / "legacy")
    shutil.copytree(path, legacy)
    meta_path = Path(legacy) / SN.META_FILE
    meta = json.loads(meta_path.read_text())
    del meta["schema"]
    meta_path.write_text(json.dumps(meta))
    old = SN.load_snapshot(spark, legacy, expected_dim=64)
    assert old.schema == inferred.schema
    assert _rows(old.select("vec_id", "qvec")) == _rows(inferred.select("vec_id", "qvec"))


def _calls_outside(path: Path, allowed: str | None) -> list[int]:
    """Lines of ``path`` that contain ``spark.read.parquet(`` outside the
    body of the function named ``allowed``."""
    src = path.read_text()
    skip = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef) and node.name == allowed:
            skip.update(range(node.lineno, node.end_lineno + 1))
    return [
        i
        for i, line in enumerate(src.splitlines(), 1)
        if "spark.read.parquet(" in line and i not in skip
    ]


def test_one_parquet_read_path():
    pkg = REPO / "pythonvectordb_spark"
    files = sorted((pkg / "sources").rglob("*.py")) + sorted((pkg / "registry").rglob("*.py"))
    assert pkg / "sources" / "testdata.py" in files
    bad = {
        str(f.relative_to(REPO)): lines
        for f in files
        if (lines := _calls_outside(f, "_read_parquet" if f.name == "testdata.py" else None))
    }
    assert not bad, f"parquet read outside sources.testdata._read_parquet: {bad}"

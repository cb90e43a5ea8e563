"""Manifest-typed scans: ``ManifestTable._read_files`` takes each
scan's schema from the manifest (committed fields under their physical
names, hive-dir keys as strings) and never infers it from parquet
footers. Building a read therefore starts no Spark job and leaves the
session's partition-inference conf alone; files stored under a lossless
narrowing of the committed type read back widened; a file whose
physical type contradicts the log still fails when the scan runs.
"""

from __future__ import annotations

import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql.conf import RuntimeConfig

from etl_job_spark.table import ManifestTable, _align, _is_widening

INFERENCE_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"


def _three_batch_table(spark, tmp_path) -> ManifestTable:
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    t.append(spark.createDataFrame([(4, "d")], "k bigint, v string"))
    return t


@pytest.fixture
def conf_writes(monkeypatch) -> list[str]:
    """Every key the session conf is set or unset under."""
    keys: list[str] = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    def spy_unset(self, key):
        keys.append(key)
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    return keys


def _jobs_started(spark, build) -> int:
    """Spark jobs started while ``build()`` runs (plan building only —
    nothing is collected)."""
    sc = spark.sparkContext
    group = f"typed-scan-{id(build)}"
    sc.setJobGroup(group, "plan building")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_building_reads_starts_no_job_and_keeps_inference_conf(
    spark, tmp_path, conf_writes
):
    t = _three_batch_table(spark, tmp_path)
    man = t._read_manifest(t.latest_version())
    assert len({e["path"].split("/")[0] for e in man["files"]}) == 3
    schema = t._manifest_schema(man)
    built = []
    assert _jobs_started(spark, lambda: built.append(t.snapshot(spark))) == 0
    assert (
        _jobs_started(
            spark,
            lambda: built.append(t.snapshot_where(spark, [("k", ">=", 2)])),
        )
        == 0
    )
    # the MERGE target: the touched files aligned to the committed schema
    assert (
        _jobs_started(
            spark,
            lambda: built.append(
                _align(t._read_files(spark, man["files"], man=man), schema)
            ),
        )
        == 0
    )
    assert INFERENCE_KEY not in conf_writes
    # control: the detector sees reader-construction jobs — an inferred
    # read of the same files reads their footers in one
    files = [os.path.join(t.data_dir, e["path"]) for e in man["files"]]
    assert _jobs_started(spark, lambda: spark.read.parquet(*files)) >= 1
    snap, window, target = built
    assert sorted(r.k for r in snap.collect()) == [1, 2, 3, 4]
    assert sorted(r.k for r in window.collect()) == [2, 3, 4]
    assert sorted(tuple(r) for r in target.collect()) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    ]


WIDEN = {
    "t2s": ("tinyint", "smallint", 127),
    "t2i": ("tinyint", "int", -128),
    "t2b": ("tinyint", "bigint", 100),
    "s2i": ("smallint", "int", 32767),
    "s2b": ("smallint", "bigint", -32768),
    "i2b": ("int", "bigint", 2147483647),
    "f2d": ("float", "double", 1.5),
    "d2d": ("decimal(5,2)", "decimal(14,2)", decimal.Decimal("999.99")),
}


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_every_widening_pair_reads_back_exactly(spark, tmp_path, vectorized):
    assert all(_is_widening(old, new) for old, new, _ in WIDEN.values())
    t = ManifestTable(str(tmp_path / "w"))
    ddl = ", ".join(f"{c} {old}" for c, (old, _, _) in WIDEN.items())
    t.overwrite(spark.createDataFrame([tuple(v for _, _, v in WIDEN.values())], ddl))
    t.alter_schema(spark, widen={c: new for c, (_, new, _) in WIDEN.items()})
    key = "spark.sql.parquet.enableVectorizedReader"
    prev = spark.conf.get(key)
    spark.conf.set(key, vectorized)
    try:
        df = t.snapshot(spark)
        assert dict(df.dtypes) == {c: new for c, (_, new, _) in WIDEN.items()}
        [row] = df.collect()
    finally:
        spark.conf.set(key, prev)
    assert row.asDict() == {c: v for c, (_, _, v) in WIDEN.items()}


def test_physical_type_drift_fails_loudly(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "d"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    man = t._read_manifest(t.latest_version())
    entry = next(e for e in man["files"] if e.get("rows"))
    # rewritten in place before any read: k now a string in the file
    # (its stale checksum sidecar removed, or the local filesystem
    # would refuse the bytes before the reader ever sees the footer)
    path = os.path.join(t.data_dir, entry["path"])
    pq.write_table(pa.table({"k": ["1"], "v": ["a"]}), path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    df = t.snapshot(spark)
    assert dict(df.dtypes)["k"] == "bigint"  # the log's type, not the footer's
    with pytest.raises(Exception, match=r"column: \[k\], physicalType: BINARY"):
        df.collect()


def test_one_parquet_call_per_batch(spark, tmp_path, monkeypatch):
    t = _three_batch_table(spark, tmp_path)
    p = ManifestTable(str(tmp_path / "p"))
    p.overwrite(
        spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, d string"),
        partition_by=["d"],
    )
    p.append(spark.createDataFrame([(3, "x")], "k bigint, d string"))
    calls: list[int] = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **options):
        calls.append(len(paths))
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert sorted(r.k for r in t.snapshot(spark).collect()) == [1, 2, 3, 4]
    assert len(calls) == 3
    calls.clear()
    rows = sorted(tuple(r) for r in p.snapshot(spark).collect())
    assert rows == [(1, "x"), (2, "y"), (3, "x")]
    assert len(calls) == 2

"""meta_agg: exact metadata-only COUNT/COUNT(col)/MIN/MAX from the
manifest, with honest per-column fallback to a real scan whenever the
metadata cannot prove the answer (DVs, missing stats)."""

import datetime
import decimal

from pyspark.sql import functions as F

import etl_job_spark.table as tablemod
from etl_job_spark.table import ManifestTable


def _scan_truth(snap, cols):
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    return snap.agg(*aggs).first()


def test_meta_agg_matches_scan_across_types(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(0, 500).selectExpr(
        "id as k",
        "if(id % 5 = 0, null, concat('v', lpad(cast(id as string), 4, '0'))) as v",
        "cast(cast(id as string) || '.25' as decimal(12,2)) as amt",
        "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) as ts",
        "cast(null as double) as dead",
    )
    t.overwrite(df.repartitionByRange(4, "k").sortWithinPartitions("k"))
    cols = ["k", "v", "amt", "ts", "dead"]
    got = t.meta_agg(spark, cols)
    truth = _scan_truth(t.snapshot(spark), cols)
    assert got["rows"] == 500
    for c in cols:
        g = got["columns"][c]
        assert g["metadata_only"] is True, c
        assert g["non_null"] == truth[f"nn_{c}"], c
        assert g["min"] == truth[f"mn_{c}"], c
        assert g["max"] == truth[f"mx_{c}"], c
    assert got["columns"]["dead"] == {
        "non_null": 0, "min": None, "max": None, "metadata_only": True
    }
    assert isinstance(got["columns"]["amt"]["max"], decimal.Decimal)
    assert isinstance(got["columns"]["ts"]["max"], datetime.datetime)


def test_meta_agg_partition_columns(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "p"))
    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"c{i % 3}", i % 4) for i in range(80)],
        "k long, ch string, b int",
    )
    t.overwrite(df.repartition(F.col("ch"), F.col("b")), partition_by=["ch", "b"])
    got = t.meta_agg(spark, ["ch", "b", "k"])
    assert got["columns"]["ch"] == {
        "non_null": 64, "min": "c0", "max": "c2", "metadata_only": True
    }
    # int partition dirs compare numerically, not lexically
    assert got["columns"]["b"] == {
        "non_null": 80, "min": 0, "max": 3, "metadata_only": True
    }
    assert got["columns"]["k"]["min"] == 0 and got["columns"]["k"]["max"] == 79


def test_meta_agg_dv_falls_back_to_exact_scan(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "dv"))
    t.overwrite(
        spark.range(0, 100).selectExpr("id as k", "concat('u', id) as u")
        .repartitionByRange(2, "k").sortWithinPartitions("k")
    )
    t.delete_keys(spark, "k", [99, 98, 0], mode="merge_on_read")
    got = t.meta_agg(spark, ["k"])
    g = got["columns"]["k"]
    # still exact — but honestly marked as scan-computed
    assert g["metadata_only"] is False
    assert g == {"non_null": 97, "min": 1, "max": 97, "metadata_only": False}
    assert got["rows"] == 97  # count stays metadata-exact via live_rows


def test_meta_agg_distributed_tier_and_rename(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tablemod, "_SPARK_PRUNE_MIN_FILES", 2)
    t = ManifestTable(str(tmp_path / "d"))
    t.overwrite(
        spark.range(0, 300).selectExpr(
            "id as k", "if(id < 30, null, id * 2) as m"
        ).repartitionByRange(5, "k").sortWithinPartitions("k")
    )
    t.rename_column("m", "metric")
    cold = ManifestTable(t.path)  # no files cache: forces the job tier
    got = cold.meta_agg(spark, ["metric"])
    assert got["columns"]["metric"] == {
        "non_null": 270, "min": 60, "max": 598, "metadata_only": True
    }


def test_meta_agg_unknown_column_raises(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "e"))
    t.overwrite(spark.range(3).selectExpr("id as k").coalesce(1))
    import pytest

    with pytest.raises(ValueError, match="nope"):
        t.meta_agg(spark, ["nope"])


def test_meta_agg_nan_follows_spark_order_on_fused_route(spark, tmp_path):
    """An all-NaN float file next to a finite one, under a CHECK (the
    fused route). Spark orders NaN above every float: MIN is the finite
    file's minimum and MAX is NaN, whichever file is folded first."""
    nan = float("nan")

    def same(a, b):
        return a == b or (a != a and b != b)

    for nan_ks in ((1, 2, 3), (4, 5, 6)):
        t = ManifestTable(str(tmp_path / f"nan{nan_ks[0]}"))
        rows = [
            (k, None if k == nan_ks[2] else nan) if k in nan_ks
            else (k, 2.5 if k % 2 else -1.0)
            for k in range(1, 7)
        ]
        t.overwrite(
            spark.createDataFrame(rows, "k bigint, x double")
            .repartitionByRange(2, "k").sortWithinPartitions("k"),
            constraints={"kpos": "k > 0"},
        )
        assert t.last_write_route == "fused"
        truth = _scan_truth(t.snapshot(spark), ["x"])
        assert truth["mn_x"] == -1.0 and truth["mx_x"] != truth["mx_x"]
        got = t.meta_agg(spark, ["x"])["columns"]["x"]
        assert got["metadata_only"] is True
        assert got["non_null"] == truth["nn_x"] == 5
        assert same(got["min"], truth["mn_x"]) and same(got["max"], truth["mx_x"])
        files = t._read_manifest(t.latest_version())["files"]
        assert len(files) == 2
        for order in (files, files[::-1]):
            acc = tablemod._meta_acc_new({"x": "double"})
            for e in order:
                tablemod._meta_acc_update(acc, e, {"x": "double"})
            a = acc["cols"]["x"]
            assert a["mm_ok"] and a["min"] == -1.0 and a["max"] != a["max"]

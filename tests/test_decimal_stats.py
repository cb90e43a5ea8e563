"""Decimal footer stats (round-7): DecimalType columns — the type
SURVEY.md §1.4 prescribes for mart money — record exact
``{"dec": str}`` min/max and prune range reads and merges; float and
string probes (lossy double casts on the engine side) never prune.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_job_spark.table import (
    ManifestTable,
    _NONE,
    _PruneCtx,
    _comparable,
    _stat_encode,
    _stat_probe_encode,
    _verdict,
)


def _money_table(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, Decimal(i * 100).scaleb(-2) * 100) for i in range(1, 201)],
        "id int, amt decimal(18,2)",
    )
    t.overwrite(df.repartitionByRange(4, "amt").sortWithinPartitions("amt"))
    return t


def test_decimal_stats_recorded(spark, tmp_path):
    t = _money_table(spark, tmp_path)
    man = t._read_manifest(t.latest_version())
    stats = [e["stats"].get("amt") for e in man["files"] if e["rows"]]
    assert all(s and "dec" in s["min"] and "dec" in s["max"] for s in stats)


def test_decimal_range_prune_and_exact_result(spark, tmp_path):
    t = _money_table(spark, tmp_path)
    man = t._read_manifest(t.latest_version())
    schema = t._manifest_schema(man)
    preds = [("amt", "between", (Decimal("100.00"), Decimal("150.00")))]
    kept, pruned = t._prune_by_key_stats(man["files"], preds, schema)
    assert pruned, "clustered decimal range read must skip cold files"
    got = t.snapshot_where(spark, preds)
    ref = t.snapshot(spark).filter(
        F.col("amt").between(F.lit(Decimal("100.00")), F.lit(Decimal("150.00")))
    )
    assert got.count() == ref.count() > 0


def test_decimal_int_probe_prunes_exactly(spark, tmp_path):
    t = _money_table(spark, tmp_path)
    man = t._read_manifest(t.latest_version())
    schema = t._manifest_schema(man)
    kept, pruned = t._prune_by_key_stats(man["files"], [("amt", ">=", 19_000)], schema)
    assert pruned
    got = t.snapshot_where(spark, [("amt", ">=", 19_000)])
    assert got.count() == t.snapshot(spark).filter(F.col("amt") >= 19_000).count()


def test_decimal_cross_scale_probe_sound(spark, tmp_path):
    """A probe whose scale exceeds the column's must still agree with
    the engine: 100.005 sits strictly between 100.00 and 100.01."""
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, Decimal("100.00")), (2, Decimal("100.01"))], "id int, amt decimal(18,2)"
        )
    )
    probe = Decimal("100.005")
    got = t.snapshot_where(spark, [("amt", ">", probe)])
    ref = t.snapshot(spark).filter(F.col("amt") > F.lit(probe))
    assert got.count() == ref.count() == 1
    got2 = t.snapshot_where(spark, [("amt", "<", probe)])
    assert got2.count() == 1


def test_float_and_string_probes_never_prune_decimal():
    st = {"min": {"dec": "10.00"}, "max": {"dec": "20.00"}}
    entry = {"rows": 3, "stats": {"amt": st}}
    ctx = _PruneCtx({"amt": "decimal(18,2)"}, {}, True, {})

    def excludes(op, v):
        return _verdict(entry, ctx.spec([("amt", op, v)]), ctx) == _NONE

    assert not excludes(">", 25.0)  # float: lossy
    assert not excludes(">", "25")  # string: lossy
    assert excludes(">", Decimal("20.00"))
    assert excludes(">", 21)
    assert excludes(">", 20)  # max == 20.00, none > 20
    assert not excludes(">=", 20)  # 20.00 >= 20 matches
    assert not excludes(">=", Decimal("19.995"))


def test_decimal_encoding_family_isolated():
    enc = _stat_encode(Decimal("3.14"))
    assert enc == {"dec": "3.14"}
    # a decimal encoding is incomparable to every scalar family — a
    # type-ignorant probe can never mis-order against it
    assert not _comparable(enc, 3)
    assert not _comparable(enc, "3.14")
    assert _comparable(enc, {"dec": "9"})
    # decimal probe against an unknown/non-decimal column never encodes
    assert _stat_probe_encode(Decimal("1"), None) is None
    assert _stat_probe_encode(Decimal("1"), "bigint") is None


def test_merge_prunes_on_decimal_key(spark, tmp_path):
    t = _money_table(spark, tmp_path)
    before = {e["path"] for e in t._read_manifest(t.latest_version())["files"]}
    src = spark.createDataFrame(
        [(5, Decimal("500.00"))], "id int, amt decimal(18,2)"
    )
    t.merge(spark, src, keys=["amt"])
    after = t._read_manifest(t.latest_version())["files"]
    carried = [e for e in after if e["path"] in before]
    assert carried, "files whose decimal key range misses the source must carry"
    # correctness: the merged row landed exactly once
    assert t.snapshot(spark).filter(F.col("amt") == F.lit(Decimal("500.00"))).count() == 1


def test_high_precision_decimal_stats_do_not_round_inward(spark, tmp_path):
    """r7 review finding: Decimal(raw).scaleb(-scale) under the default
    28-digit context ROUNDED a decimal(38,2) bound inward — the
    recorded max fell below the true max and an equality probe on the
    extreme value pruned the file holding it (silent row loss)."""
    import decimal

    from etl_job_spark.table import ManifestTable

    big = decimal.Decimal("100000000000000000000000000000000000.01")
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, decimal.Decimal("1.00")), (2, big)], "k long, amount decimal(38,2)"
    )
    t.overwrite(df.repartition(2, "k"))
    man = t._read_manifest(t.latest_version())
    stats = [e["stats"].get("amount") for e in man["files"] if e["stats"].get("amount")]
    # the recorded bound is EXACT — 38 significant digits survive
    assert any(s["max"] == {"dec": str(big)} for s in stats)
    got = t.snapshot_where(spark, [("amount", "=", big)])
    assert [r.k for r in got.collect()] == [2]
    assert t.last_planning["kept"] == 1  # pruned to the one file, kept it

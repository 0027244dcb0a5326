"""Per-operator tests for the filter/pruning family, mirroring the
reference's per-plugin test classes (TestCheckMetadata, TestSZACheck,
TestCheckValidDataFraction ...) on hand-built DataFrames."""

import datetime

import pytest
from pyspark.sql import functions as F

from trollflow2_spark.extensions.column_plugins import (
    check_metadata_age,
    check_metadata_categorical,
    metadata_alias,
    sza_check,
    valid_fraction_filter,
)


def test_categorical_keeps_allowed_and_null(spark):
    df = spark.createDataFrame(
        [("NOAA-15",), ("GOES-17",), (None,)], ["platform_name"]
    )
    out = check_metadata_categorical(df, "platform_name", ["NOAA-15"])
    vals = {r[0] for r in out.collect()}
    assert vals == {"NOAA-15", None}  # missing metadata passes (warn-and-pass)


def test_categorical_strict(spark):
    df = spark.createDataFrame([("NOAA-15",), (None,)], ["platform_name"])
    out = check_metadata_categorical(
        df, "platform_name", ["NOAA-15"], keep_missing=False
    )
    assert out.count() == 1


def test_age_gate(spark):
    now = datetime.datetime(2024, 1, 31)
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 30, 23, 30)),  # fresh
            (2, datetime.datetime(2024, 1, 1)),  # stale
            (3, None),  # missing -> passes
        ],
        ["id", "start_time"],
    )
    out = check_metadata_age(
        df, "start_time", max_age_minutes=60, now=F.lit(now)
    )
    assert {r["id"] for r in out.collect()} == {1, 3}


def test_alias_scalar_and_list(spark):
    df = spark.createDataFrame(
        [("noaa15", ["avhrr/3", "mhs"])], ["platform_name", "sensor"]
    )
    out = metadata_alias(df, "platform_name", {"noaa15": "NOAA-15"})
    out = metadata_alias(out, "sensor", {"avhrr/3": "avhrr-3"})
    row = out.collect()[0]
    assert row["platform_name"] == "NOAA-15"
    assert row["sensor"] == ["avhrr-3", "mhs"]  # element-wise, unmapped kept


def test_sza_check_null_bounds(spark):
    df = spark.createDataFrame(
        [(1, 80.0, None, 85.0), (2, 90.0, None, 85.0), (3, 90.0, 88.0, None)],
        ["id", "sza", "sunzen_minimum_angle", "sunzen_maximum_angle"],
    )
    out = sza_check(df)
    assert {r["id"] for r in out.collect()} == {1, 3}


def test_valid_fraction(spark):
    """Reference fixture sc_3a_3b semantics: NIR016 has 3/9 valid rows,
    IR037 has 6/9; min fraction 40% keeps IR037 only
    (tests/test_trollflow2.py:2207-2284)."""
    rows = []
    for y in range(3):
        for x in range(3):
            rows.append(("NIR016", y, x, 0.5 if y == 2 else float("nan")))
            rows.append(("IR037", y, x, float(y * 3 + x) if y < 2 else float("nan")))
    df = spark.createDataFrame(rows, ["band", "y", "x", "value"])
    out = valid_fraction_filter(df, ["band"], "value", 0.40)
    assert {r["band"] for r in out.collect()} == {"IR037"}
    # sanity band: rel_valid >= 1.05 is dropped (suspicious over-coverage)
    out2 = valid_fraction_filter(df, ["band"], "value", 0.40, expected_coverage_pct=30.0)
    # NIR016: (3/9)/0.3 = 1.11, IR037: (6/9)/0.3 = 2.22 -> both dropped
    assert out2.count() == 0

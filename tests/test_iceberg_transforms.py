"""Iceberg partition transforms: spec-exact bucket[N] + truncate[W].

The bucket hash must match the Iceberg spec bit-for-bit (32-bit x86
Murmur3, seed 0, canonical byte forms) — that is what makes bucket
pruning correct against tables written by ANY Iceberg engine, and the
prescribed 10^12-turn layout (``bucket(N, conv_id)``) interoperable.
Hash test vectors are the published ones from the Iceberg spec's
Appendix B requirement table."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.sources.iceberg_table import (
    load_table_metadata,
    plan_scan_entries,
    read_iceberg,
)
from datacontract_cli_spark.sources.iceberg_transforms import (
    bucket_column,
    bucket_value,
    murmur3_32,
    murmur3_32_longs,
)
from datacontract_cli_spark.sources.iceberg_write import (
    append_iceberg,
    delete_rows_iceberg,
    write_iceberg_table,
)


# ---------------------------------------------------------------------------
# hash function
# ---------------------------------------------------------------------------

def test_spec_hash_vectors():
    """Iceberg spec Appendix B: hashInt(34) = hashLong(34) = 2017239379,
    hash("iceberg") = 1210000089, hash(decimal 14.20) = -500754589."""
    assert murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert murmur3_32(b"iceberg") == 1210000089
    assert murmur3_32(int(1420).to_bytes(2, "big", signed=True)) \
        == -500754589


def test_vectorized_matches_scalar():
    rng = np.random.default_rng(7)
    vals = rng.integers(-2**62, 2**62, size=500)
    vec = murmur3_32_longs(vals)
    for v, h in zip(vals.tolist(), vec.tolist()):
        assert murmur3_32(struct.pack("<q", v)) == h


def test_bucket_value_semantics():
    assert bucket_value(None, 16, "long") is None
    assert bucket_value(34, 16, "long") == (2017239379 & 0x7FFFFFFF) % 16
    assert bucket_value("iceberg", 16, "string") \
        == (1210000089 & 0x7FFFFFFF) % 16
    # int and long of the same value agree (spec: shared canonical form)
    assert bucket_value(34, 8, "int") == bucket_value(34, 8, "long")


def test_bucket_column_temporal_rejected():
    with pytest.raises(NotImplementedError, match="temporal"):
        bucket_column("ts", 8, "timestamptz")


# ---------------------------------------------------------------------------
# bucketed tables
# ---------------------------------------------------------------------------

def _df(spark, n=2000):
    return spark.range(0, n).select(
        F.concat(F.lit("c"), (F.col("id") % 97)).alias("conv_id"),
        F.col("id").alias("turn_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"))


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bkt") / "t")
    write_iceberg_table(_df(spark), root,
                        partition_by=["bucket(8, conv_id)"])
    return root


def test_bucket_spec_metadata(bucketed):
    spec = load_table_metadata(bucketed)["partition-specs"][0]["fields"]
    assert spec == [{"name": "conv_id_bucket", "transform": "bucket[8]",
                     "source-id": 1, "field-id": 1000}]


def test_bucket_round_trip_exact(spark, bucketed):
    got = sorted(map(tuple, read_iceberg(spark, bucketed).collect()))
    exp = sorted(map(tuple, _df(spark).collect()))
    assert got == exp


def test_bucket_pruning_equality(spark, bucketed):
    _, all_paths = plan_scan_entries(bucketed)
    assert len(all_paths) == 8
    _, pruned = plan_scan_entries(bucketed, filters=[("conv_id", "=", "c42")])
    assert len(pruned) == 1
    got = read_iceberg(spark, bucketed, filters=[("conv_id", "=", "c42")])
    exp = _df(spark).filter("conv_id = 'c42'")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_bucket_pruning_in_long(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark), root,
                        partition_by=["bucket(4, turn_id)"])
    _, pruned = plan_scan_entries(root, filters=[("turn_id", "in", [5, 6])])
    assert len(pruned) <= 2
    assert read_iceberg(
        spark, root, filters=[("turn_id", "in", [5, 6])]).count() == 2


def test_append_lands_in_spec_buckets(spark, bucketed):
    """Appended rows follow the table's bucket spec, so pruning stays
    exact across snapshots — a misplaced row would make the pruned read
    diverge from the residual-filtered one."""
    append_iceberg(_df(spark).filter("conv_id = 'c42'").limit(5), bucketed)
    got = read_iceberg(spark, bucketed,
                       filters=[("conv_id", "=", "c42")]).count()
    exp = _df(spark).filter("conv_id = 'c42'").count() + 5
    assert got == exp
    _, pruned = plan_scan_entries(bucketed, filters=[("conv_id", "=", "c42")])
    assert len(pruned) == 2  # one original bucket file + one appended


def test_null_bucket_values(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3), (None, 4)], "k string, v int")
    write_iceberg_table(df, root, partition_by=["bucket(4, k)"])
    assert read_iceberg(spark, root).count() == 4
    got = read_iceberg(spark, root, filters=[("k", "=", "a")])
    assert [tuple(r) for r in got.collect()] == [("a", 1)]


def test_truncate_int_floors_negatives(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(-10, 10).select(F.col("id").alias("v"),
                                     F.lit("x").alias("s"))
    write_iceberg_table(df, root, partition_by=["truncate(4, v)"])
    assert read_iceberg(spark, root).count() == 20
    # -9 lives in the [-12, -8) partition (floor, not C-style trunc)
    _, pruned = plan_scan_entries(root, filters=[("v", "=", -9)])
    _, allp = plan_scan_entries(root)
    assert len(pruned) < len(allp)
    assert read_iceberg(spark, root, filters=[("v", "=", -9)]).count() == 1


def test_truncate_string(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("alpha", 1), ("alpine", 2), ("beta", 3)], "w string, v int")
    write_iceberg_table(df, root, partition_by=["truncate(4, w)"])
    spec = load_table_metadata(root)["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "truncate[4]"
    _, pruned = plan_scan_entries(root, filters=[("w", "=", "beta")])
    assert len(pruned) == 1
    assert read_iceberg(spark, root,
                        filters=[("w", "=", "beta")]).count() == 1


def test_bucket_with_merge_on_read(spark, tmp_path):
    """Bucket layout and MoR deletes compose: deletes scope correctly
    and pruned reads stay exact."""
    root = str(tmp_path / "t")
    write_iceberg_table(_df(spark, 500), root,
                        partition_by=["bucket(4, conv_id)"])
    delete_rows_iceberg(spark, root, "turn_id % 3 = 0")
    got = read_iceberg(spark, root, filters=[("conv_id", "=", "c7")])
    exp = _df(spark, 500).filter("conv_id = 'c7' AND turn_id % 3 != 0")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_bad_partition_spec_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="cannot parse"):
        write_iceberg_table(_df(spark, 10), str(tmp_path / "x"),
                            partition_by=["bucket(conv_id)"])
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_iceberg_table(_df(spark, 10), str(tmp_path / "y"),
                            partition_by=["bucket(4, nope)"])

# ---------------------------------------------------------------------------
# temporal transforms (year/month/day/hour)
# ---------------------------------------------------------------------------

import datetime as dt

from datacontract_cli_spark.sources.iceberg_transforms import (
    temporal_column,
    temporal_value,
)


def test_temporal_value_spec_examples():
    """Iceberg spec transform examples: 2017-11-16 is day 17486,
    month 574, year 47; 22:31:08 that day is hour 17486*24+22."""
    assert temporal_value("2017-11-16", "day", "date") == 17486
    assert temporal_value("2017-11-16", "month", "date") == 574
    assert temporal_value("2017-11-16", "year", "date") == 47
    assert temporal_value("2017-11-16T22:31:08", "hour",
                          "timestamptz") == 17486 * 24 + 22
    assert temporal_value(None, "day", "timestamptz") is None


def test_temporal_value_floors_pre_epoch():
    t = dt.datetime(1969, 12, 31, 23, 59, 58)
    for unit in ("year", "month", "day", "hour"):
        assert temporal_value(t, unit, "timestamptz") == -1, unit
    assert temporal_value(dt.date(1969, 1, 1), "year", "date") == -1
    assert temporal_value(dt.date(1969, 12, 1), "month", "date") == -1


def test_temporal_value_rejects_invalid():
    with pytest.raises(ValueError, match="invalid for date"):
        temporal_value(dt.date(2020, 1, 1), "hour", "date")
    with pytest.raises(ValueError, match="unsupported"):
        temporal_value("x", "day", "string")


def test_temporal_column_matches_scalar(spark):
    """Differential: the JVM Column transform equals the Python scalar
    transform row-for-row, across pre/post-epoch timestamps, for every
    unit and source type — and is independent of the session time zone
    (timestamptz math runs on unix_micros, ntz/date on calendar fields)."""
    stamps = [
        dt.datetime(2017, 11, 16, 22, 31, 8),
        dt.datetime(1970, 1, 1, 0, 0, 0),
        dt.datetime(1969, 12, 31, 23, 59, 58),
        dt.datetime(2024, 2, 29, 0, 0, 0),   # leap day, exact boundary
        dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
    ]
    df = spark.createDataFrame(
        [(t, t, t.date()) for t in stamps],
        "tz timestamp, ntz timestamp_ntz, d date")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        for unit in ("year", "month", "day", "hour"):
            rows = df.select(
                temporal_column("tz", unit, "timestamptz").alias("a"),
                temporal_column("ntz", unit, "timestamp").alias("b"),
            ).collect()
            for t, r in zip(stamps, rows):
                exp = temporal_value(t, unit, "timestamptz")
                assert r.a == exp, (unit, t, "tz")
                assert r.b == exp, (unit, t, "ntz")
        for unit in ("year", "month", "day"):
            rows = df.select(
                temporal_column("d", unit, "date").alias("c")).collect()
            for t, r in zip(stamps, rows):
                assert r.c == temporal_value(t.date(), unit, "date")
        # timestamptz values are instants: the COLUMN transform must not
        # move when the session renders in another zone (the stored
        # instants were fixed at creation time under UTC) ...
        utc_expected = [temporal_value(
            t.replace(tzinfo=dt.timezone.utc), "day", "timestamptz")
            for t in stamps]
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = df.select(
            temporal_column("tz", "day", "timestamptz").alias("a")).collect()
        for exp, r in zip(utc_expected, shifted):
            assert r.a == exp
        # ... while a NAIVE planner-side filter value resolves in the
        # SESSION zone (ADVICE r5): Spark interprets naive literals in
        # comparisons against timestamptz in the session zone, so the
        # pruning ordinal must follow the same rule
        from zoneinfo import ZoneInfo
        for t in stamps:
            ny = t.replace(tzinfo=ZoneInfo("America/New_York"))
            assert temporal_value(t, "day", "timestamptz") \
                == temporal_value(ny, "day", "timestamptz")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _ts_df(spark, n=300):
    return spark.range(0, n).select(
        F.concat(F.lit("c"), (F.col("id") % 13)).alias("conv_id"),
        F.col("id").alias("turn_id"),
        F.timestamp_add(
            "HOUR", F.col("id"),
            F.lit("2024-01-01 00:00:00").cast("timestamp")).alias("ts"))


@pytest.fixture(scope="module")
def day_bucketed(spark, tmp_path_factory):
    """The prescribed 10^12-turn transcript layout: day(ts) +
    bucket(N, conv_id)."""
    root = str(tmp_path_factory.mktemp("daybkt") / "t")
    write_iceberg_table(_ts_df(spark), root,
                        partition_by=["day(ts)", "bucket(4, conv_id)"])
    return root


def test_day_spec_metadata(day_bucketed):
    spec = load_table_metadata(day_bucketed)["partition-specs"][0]["fields"]
    assert spec[0] == {"name": "ts_day", "transform": "day",
                       "source-id": 3, "field-id": 1000}
    assert spec[1]["transform"] == "bucket[4]"


def test_day_round_trip_exact(spark, day_bucketed):
    got = sorted(map(tuple, read_iceberg(spark, day_bucketed).collect()))
    exp = sorted(map(tuple, _ts_df(spark).collect()))
    assert got == exp


def test_day_range_pruning_exact(spark, day_bucketed):
    """ts >= cut keeps exactly the files of days >= day(cut): pruning is
    tight (file count matches the matching-day count) and the result is
    identical to the unpartitioned filter."""
    cut = dt.datetime(2024, 1, 5)
    _, allp = plan_scan_entries(day_bucketed)
    _, pruned = plan_scan_entries(day_bucketed, filters=[("ts", ">=", cut)])
    # 300 hourly rows span 13 days (0..12); cut keeps days 4..12
    assert len(pruned) == round(len(allp) * 9 / 13)
    got = read_iceberg(spark, day_bucketed, filters=[("ts", ">=", cut)])
    exp = _ts_df(spark).filter(F.col("ts") >= F.lit(cut))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_day_lt_boundary_pruning(spark, day_bucketed):
    """ts < exact-midnight: day(cut)'s own partition must stay (x < cut
    with day(x) == day(cut) is impossible here, but the relaxed <= bound
    keeps it — less pruning, never wrong)."""
    cut = dt.datetime(2024, 1, 2)
    got = read_iceberg(spark, day_bucketed, filters=[("ts", "<", cut)])
    assert got.count() == 24


def test_day_and_bucket_compose(spark, day_bucketed):
    """Both dimensions prune independently: a day range AND a conv_id
    equality land on one bucket within the matching days."""
    cut = dt.datetime(2024, 1, 10)
    filt = [("ts", ">=", cut), ("conv_id", "=", "c7")]
    _, allp = plan_scan_entries(day_bucketed)
    _, pruned = plan_scan_entries(day_bucketed, filters=filt)
    assert len(pruned) <= 4  # 4 matching days (Jan 10..12 + half-day 13) x 1 bucket
    got = read_iceberg(spark, day_bucketed, filters=filt)
    exp = _ts_df(spark).filter(
        (F.col("ts") >= F.lit(cut)) & (F.col("conv_id") == "c7"))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_manifest_level_temporal_pruning(spark, tmp_path):
    """Two snapshots covering disjoint day ranges: a filter inside the
    second range plans files from the second manifest only (manifest
    partition summaries prune before any manifest is opened)."""
    root = str(tmp_path / "t")
    early = _ts_df(spark, 48)                       # days 0-1
    late = _ts_df(spark, 300).filter("id >= 240")   # days 10-12
    write_iceberg_table(early, root, partition_by=["day(ts)"])
    append_iceberg(late, root)
    _, all_paths = plan_scan_entries(root)
    _, pruned = plan_scan_entries(
        root, filters=[("ts", ">=", dt.datetime(2024, 1, 11))])
    assert 0 < len(pruned) < len(all_paths)
    got = read_iceberg(
        spark, root, filters=[("ts", ">=", dt.datetime(2024, 1, 11))])
    assert got.count() == 60  # hours 240..299 (Jan 11 00:00 is hour 240)


def test_hour_partitioning(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_ts_df(spark, 24), root, partition_by=["hour(ts)"])
    _, allp = plan_scan_entries(root)
    assert len(allp) == 24
    _, pruned = plan_scan_entries(
        root, filters=[("ts", "=", dt.datetime(2024, 1, 1, 5, 30))])
    assert len(pruned) == 1
    assert read_iceberg(
        spark, root,
        filters=[("ts", ">=", dt.datetime(2024, 1, 1, 22))]).count() == 2


def test_month_year_partitioning(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, dt.date(2023 + i // 12, i % 12 + 1, 15)) for i in range(24)],
        "v long, d date")
    write_iceberg_table(df, root, partition_by=["month(d)"])
    spec = load_table_metadata(root)["partition-specs"][0]["fields"][0]
    assert spec == {"name": "d_month", "transform": "month",
                    "source-id": 2, "field-id": 1000}
    got = read_iceberg(
        spark, root, filters=[("d", ">", dt.date(2024, 10, 1))])
    assert got.count() == 3  # Oct(>1st), Nov, Dec 2024
    root2 = str(tmp_path / "t2")
    write_iceberg_table(df, root2, partition_by=["year(d)"])
    _, pruned = plan_scan_entries(root2, filters=[("d", "<", dt.date(2024, 1, 1))])
    # `<` relaxes to `<=` on the transformed value, so the boundary year's
    # partition stays planned (2 files); the residual filter keeps it exact
    assert len(pruned) == 2
    assert read_iceberg(
        spark, root2,
        filters=[("d", "<", dt.date(2024, 1, 1))]).count() == 12


def test_temporal_append_follows_spec(spark, tmp_path):
    root = str(tmp_path / "t")
    write_iceberg_table(_ts_df(spark, 48), root, partition_by=["day(ts)"])
    append_iceberg(_ts_df(spark, 300).filter("id >= 288"), root)  # day 12
    got = read_iceberg(
        spark, root, filters=[("ts", ">=", dt.datetime(2024, 1, 13))])
    assert got.count() == 12
    _, pruned = plan_scan_entries(
        root, filters=[("ts", ">=", dt.datetime(2024, 1, 13))])
    assert len(pruned) == 1  # the appended day-12 file only


def test_temporal_with_merge_on_read(spark, tmp_path):
    """day(ts) layout composes with v2 positional deletes."""
    root = str(tmp_path / "t")
    write_iceberg_table(_ts_df(spark, 120), root, partition_by=["day(ts)"])
    delete_rows_iceberg(spark, root, "turn_id % 2 = 0")
    cut = dt.datetime(2024, 1, 3)
    got = read_iceberg(spark, root, filters=[("ts", ">=", cut)])
    exp = _ts_df(spark, 120).filter(
        (F.col("ts") >= F.lit(cut)) & (F.col("turn_id") % 2 != 0))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, exp.collect()))


def test_hour_of_date_rejected(spark, tmp_path):
    df = spark.createDataFrame([(dt.date(2024, 1, 1),)], "d date")
    with pytest.raises(ValueError, match="invalid for date"):
        write_iceberg_table(df, str(tmp_path / "x"),
                            partition_by=["hour(d)"])


def test_naive_filter_values_use_session_time_zone(spark):
    """A naive datetime filter value must be interpreted in the SESSION
    time zone, not assumed UTC: written timestamptz partition ordinals came
    from instants Spark resolved in the session tz, so a UTC assumption
    shifts the day/hour ordinal and silently prunes matching files in
    non-UTC sessions (ADVICE r5)."""
    from datacontract_cli_spark.sources.iceberg_transforms import (
        _value_micros,
        temporal_value,
    )

    naive = dt.datetime(2024, 1, 1, 1, 30)  # 01:30 local
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        us = _value_micros(naive)
        # 01:30 EST == 06:30 UTC
        assert us == int(dt.datetime(
            2024, 1, 1, 6, 30, tzinfo=dt.timezone.utc).timestamp() * 1e6)
        # day ordinal stays on 2024-01-01 (UTC-naive would also land there,
        # but the hour ordinal moves by the 5h offset)
        h_local = temporal_value(naive, "hour", "timestamptz")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        h_utc = temporal_value(naive, "hour", "timestamptz")
        assert h_local - h_utc == 5
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

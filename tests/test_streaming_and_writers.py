"""Streaming variant + medallion writer tests."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_sv_spark.plans import schemas
from weather_data_pipeline_sv_spark.sources.writers import (
    read_table,
    upsert_table,
    write_table,
)
from weather_data_pipeline_sv_spark.streaming.jobs import (
    incremental_batch_run,
    read_observation_stream,
    stream_hourly_rollup,
    stream_to_gold,
)

ASOF = dt.datetime(2025, 10, 10, 12, 0, 0)
H = lambda h: ASOF + dt.timedelta(hours=h)  # noqa: E731


def _obs(sid, ts, temp):
    vals = dict(
        station_id=sid, timestamp=ts, temperature=temp, humidity=50,
        pressure=1013.0, wind_speed=5.0, wind_direction=90, precipitation=0.0,
        cloud_cover=10, visibility=1000.0, sunshine=10.0, dew_point=4.0,
        latitude=52.5, longitude=13.4, source="t", validated=True,
        source_type="historical", _ingest_ts=ts,
    )
    return tuple(vals[f.name] for f in schemas.RAW_WEATHER_OBSERVATIONS.fields)


def test_incremental_batch_run(spark):
    rows = [_obs("S1", H(-3), 1.0), _obs("S1", H(-2), 2.0), _obs("S1", H(-1), 3.0)]
    bronze = spark.createDataFrame(rows, schemas.RAW_WEATHER_OBSERVATIONS)
    out1, wm1 = incremental_batch_run(bronze, None, lambda df: df)
    assert out1.count() == 3 and wm1 == H(-1)
    # next run with no new rows: empty batch, watermark retained
    out2, wm2 = incremental_batch_run(bronze, wm1, lambda df: df)
    assert out2.count() == 0 and wm2 == wm1
    # late-arriving newer row picked up incrementally
    bronze2 = bronze.unionByName(
        spark.createDataFrame([_obs("S1", H(0), 4.0)], schemas.RAW_WEATHER_OBSERVATIONS)
    )
    out3, wm3 = incremental_batch_run(bronze2, wm1, lambda df: df)
    assert out3.count() == 1 and wm3 == H(0)


def test_stream_hourly_rollup_to_gold(spark, tmp_path):
    land = tmp_path / "landing"
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    batch1 = [_obs("S1", H(-2), 10.0), _obs("S1", H(-2) + dt.timedelta(minutes=30), 20.0),
              _obs("S2", H(-1), 5.0)]
    spark.createDataFrame(batch1, schemas.RAW_WEATHER_OBSERVATIONS).write.parquet(
        str(land), mode="append"
    )
    stream = read_observation_stream(spark, str(land), schemas.RAW_WEATHER_OBSERVATIONS)
    assert stream.isStreaming
    q = stream_to_gold(stream_hourly_rollup(stream), gold, ckpt)
    q.awaitTermination(120)
    rows = {(r["station_id"], r["hour_ts"]): r for r in spark.read.parquet(gold).collect()}
    assert rows[("S1", H(-2))]["temperature_avg"] == 15.0
    assert rows[("S1", H(-2))]["n_rows"] == 2
    assert rows[("S2", H(-1))]["temperature_avg"] == 5.0

    # second micro-run: new file with an update inside the watermark window
    batch2 = [_obs("S1", H(-2) + dt.timedelta(minutes=45), 30.0)]
    spark.createDataFrame(batch2, schemas.RAW_WEATHER_OBSERVATIONS).write.parquet(
        str(land), mode="append"
    )
    q2 = stream_to_gold(
        stream_hourly_rollup(
            read_observation_stream(spark, str(land), schemas.RAW_WEATHER_OBSERVATIONS)
        ),
        gold, ckpt,
    )
    q2.awaitTermination(120)
    rows = {(r["station_id"], r["hour_ts"]): r for r in spark.read.parquet(gold).collect()}
    assert rows[("S1", H(-2))]["n_rows"] == 3  # merged update, not duplicate
    assert rows[("S1", H(-2))]["temperature_avg"] == 20.0


def test_writers_roundtrip_and_upsert(spark, tmp_path):
    root = str(tmp_path / "lake")
    rows = [_obs("S1", H(-30), 1.0), _obs("S1", H(-1), 2.0)]
    df = spark.createDataFrame(rows, schemas.RAW_WEATHER_OBSERVATIONS)
    write_table(df, root, "bronze", "raw_weather_observations",
                partition_by_date_of="timestamp")
    back = read_table(spark, root, "bronze", "raw_weather_observations")
    assert back.count() == 2 and set(back.columns) == set(df.columns)

    # upsert: changed value for an existing key + one new key
    incoming = spark.createDataFrame(
        [_obs("S1", H(-1), 99.0), _obs("S2", H(-1), 7.0)],
        schemas.RAW_WEATHER_OBSERVATIONS,
    )
    upsert_table(spark, incoming, root, "bronze", "raw_weather_observations",
                 keys=["station_id", "timestamp"], partition_by_date_of="timestamp",
                 order_col="_ingest_ts")
    final = read_table(spark, root, "bronze", "raw_weather_observations")
    got = {(r["station_id"], r["timestamp"]): r["temperature"] for r in final.collect()}
    assert got[("S1", H(-1))] == 99.0  # updated
    assert got[("S1", H(-30))] == 1.0  # untouched partition preserved
    assert got[("S2", H(-1))] == 7.0   # inserted


def test_upsert_fails_on_unreadable_table(spark, tmp_path):
    """A damaged file in an existing table fails the upsert loudly: no
    partition loses rows and the damaged file is left as it was. The
    damaged file is the first one Spark reads to infer the schema (one
    file per date partition, the earliest date): a bare "first load"
    fallback used to catch that failure and overwrite the partition with
    the batch alone, 100 rows becoming 81."""
    import glob
    import os

    import pyarrow.parquet as pq

    root = str(tmp_path / "lake")
    rows = [_obs(f"S{i % 20}", H(-24 * (i // 20) - 1), float(i)) for i in range(100)]
    first = H(-24 * 4 - 1)
    write_table(spark.createDataFrame(rows, schemas.RAW_WEATHER_OBSERVATIONS).coalesce(1),
                root, "bronze", "raw_weather_observations", partition_by_date_of="timestamp")
    path = os.path.join(root, "bronze", "raw_weather_observations")
    [damaged] = glob.glob(f"{path}/__part_date={first.date()}/*.parquet")

    def intact():  # rows of every other file, partition by partition
        return {f: pq.read_metadata(f).num_rows
                for f in glob.glob(f"{path}/*/*.parquet") if f != damaged}

    before = intact()
    assert sum(before.values()) + pq.read_metadata(damaged).num_rows == 100
    with open(damaged, "r+b") as fh:
        fh.truncate(os.path.getsize(damaged) // 2)
    with open(damaged, "rb") as fh:
        damaged_bytes = fh.read()

    incoming = spark.createDataFrame([_obs("S0", first, 99.0)],
                                     schemas.RAW_WEATHER_OBSERVATIONS)
    with pytest.raises(Exception):
        upsert_table(spark, incoming, root, "bronze", "raw_weather_observations",
                     keys=["station_id", "timestamp"], partition_by_date_of="timestamp",
                     order_col="_ingest_ts")
    assert intact() == before
    with open(damaged, "rb") as fh:
        assert fh.read() == damaged_bytes


def _fcst(sid, issue, target, temp):
    vals = dict(
        station_id=sid, forecast_timestamp=issue, target_timestamp=target,
        temperature=temp, humidity=50, pressure=1013.0, wind_speed=5.0,
        wind_direction=90, precipitation=0.0, cloud_cover=10,
        visibility=1000.0, sunshine=10.0, dew_point=4.0,
        latitude=52.5, longitude=13.4, source="t", _ingest_ts=issue,
    )
    return tuple(vals[f.name] for f in schemas.RAW_WEATHER_FORECASTS.fields)


def test_stream_stream_accuracy_join(spark, tmp_path):
    from weather_data_pipeline_sv_spark.streaming.jobs import stream_accuracy_join

    obs_land, fcst_land = str(tmp_path / "obs"), str(tmp_path / "fcst")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [_obs("S1", H(0), 10.0), _obs("S2", H(0), 20.0)],
        schemas.RAW_WEATHER_OBSERVATIONS,
    ).write.parquet(obs_land)
    spark.createDataFrame(
        [
            # matches S1@H(0): target inside [H(0), H(1))
            _fcst("S1", H(-6), H(0), 11.0),
            _fcst("S1", H(-6), H(0) + dt.timedelta(minutes=30), 12.0),
            # boundary: target exactly at obs_ts + 1h -> excluded
            _fcst("S1", H(-6), H(1), 13.0),
            # wrong station for H(0) obs of S1; matches S2's obs instead
            _fcst("S2", H(-3), H(0), 22.0),
        ],
        schemas.RAW_WEATHER_FORECASTS,
    ).write.parquet(fcst_land)

    obs_stream = read_observation_stream(
        spark, obs_land, schemas.RAW_WEATHER_OBSERVATIONS
    )
    fcst_stream = read_observation_stream(
        spark, fcst_land, schemas.RAW_WEATHER_FORECASTS
    )
    joined = stream_accuracy_join(obs_stream, fcst_stream)
    assert joined.isStreaming

    q = (
        joined.writeStream.format("memory")
        .queryName("acc_join")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["station_id"], r["target_ts"]): r
        for r in spark.sql("SELECT * FROM acc_join").collect()
    }
    assert set(rows) == {
        ("S1", H(0)),
        ("S1", H(0) + dt.timedelta(minutes=30)),
        ("S2", H(0)),
    }
    assert rows[("S1", H(0))]["temperature_abs_error"] == 1.0
    assert rows[("S1", H(0) + dt.timedelta(minutes=30))]["temperature_abs_error"] == 2.0
    assert rows[("S2", H(0))]["temperature_abs_error"] == 2.0
    assert rows[("S1", H(0))]["lead_time_hours"] == 6.0
    assert rows[("S2", H(0))]["lead_time_hours"] == 3.0


def test_compact_table(spark, tmp_path):
    from weather_data_pipeline_sv_spark.sources.writers import (
        compact_table,
        table_file_stats,
        table_path,
    )

    root = str(tmp_path / "lake")
    rows = [
        _obs(f"S{i % 5}", H(-i % 48) + dt.timedelta(minutes=i % 60), float(i))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, schemas.RAW_WEATHER_OBSERVATIONS)
    # simulate micro-batch fragmentation: many tiny files per date partition
    write_table(
        df.repartition(64), root, "bronze", "raw_weather_observations",
        partition_by_date_of="timestamp",
    )
    path = table_path(root, "bronze", "raw_weather_observations")
    before = table_file_stats(spark, path)
    assert before["n_files"] > 60

    stats = compact_table(
        spark, root, "bronze", "raw_weather_observations",
        target_file_bytes=1024 * 1024 * 1024,
        sort_cols=["station_id", "timestamp"],
    )
    assert stats["after"]["n_files"] < before["n_files"] / 10
    # content unchanged (row multiset) and date partitioning preserved
    back = read_table(spark, root, "bronze", "raw_weather_observations")
    assert back.count() == 2000
    assert sorted(
        (r["station_id"], r["timestamp"], r["temperature"])
        for r in back.collect()
    ) == sorted((r[0], r[1], r[2]) for r in rows)
    import os as _os

    assert any(d.startswith("__part_date=") for d in _os.listdir(path))

"""Seeded weather bronze generator for the benchmark.

The value distributions follow ``tools/make_weather_dir.py`` (stations in a
2 x 4 degree box, ~2 % rows with two critical NULLs, ~1 % temperature
outliers, ~8 % unvalidated rows, one forecast issue per station-day at 00:00
with 12 target hours), but every md5 variate is salted with the workload
seed, so one seed gives one data set and another seed another.  Generation
runs in DuckDB (the same ``md5(salt || ':' || id)`` variate the engine's
``hash_uniform`` uses), so it costs no Spark job and does not depend on the
code under test.

Station ids are numeric strings: BrightSky records carry a numeric
``source_id`` and ``sources.ingestion.route_observations`` maps it to
``station_id`` with a string cast, so the hourly records route onto the same
stations as the generated history.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import duckdb

BASE = dt.datetime(2026, 1, 1)
LAT0, LAT_SPAN = 51.5, 2.0
LON0, LON_SPAN = 11.0, 4.0
STATION_ID0 = 10000
UNKNOWN_SOURCE_ID0 = 90000  # records from sources absent from `sources[]`
PROBE_RADIUS_KM = 45.0  # inside the engine's 50 km radius, with a margin


@dataclass(frozen=True)
class Scale:
    stations: int
    postal_codes: int
    days: int


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


class Generator:
    """All variates of one seed.  ``u(name, key)`` is U[0,1) from
    md5('<seed>.<name>:<key>') -- the salted form of make_weather_dir's
    ``hash_uniform(id, name)``."""

    def __init__(self, seed: int, scale: Scale):
        self.seed = seed
        self.scale = scale
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def close(self) -> None:
        self.con.close()

    def u(self, name: str, key: str = "id") -> str:
        return (
            f"(CAST('0x' || substr(md5('{self.seed}.{name}:' || "
            f"CAST({key} AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0)"
        )

    # -- column expressions (distributions of tools/make_weather_dir.py) --

    def _measures(self) -> str:
        u = self.u
        temp = f"(-10.0 + 40.0 * {u('temp')})"
        return f"""
          CASE WHEN {u('crit')} < 0.02 THEN NULL
               WHEN {u('out')} < 0.01 THEN {temp} + 80.0
               ELSE {temp} END AS temperature,
          CAST(30 + floor({u('hum')} * 70) AS INTEGER) AS humidity,
          980.0 + 50.0 * {u('prs')} AS pressure,
          CASE WHEN {u('crit')} < 0.02 THEN NULL
               ELSE 25.0 * {u('wnd')} END AS wind_speed,
          CAST(floor({u('dir')} * 360) AS INTEGER) AS wind_direction,
          CASE WHEN {u('prc')} < 0.7 THEN 0.0
               ELSE 8.0 * {u('prcv')} END AS precipitation,
          CAST(floor({u('cld')} * 100) AS INTEGER) AS cloud_cover,
          5.0 + 45.0 * {u('vis')} AS visibility,
          60.0 * {u('sun')} AS sunshine,
          -15.0 + 30.0 * {u('dew')} AS dew_point"""

    def _station_lat(self, key: str = "sid") -> str:
        return f"({LAT0} + {LAT_SPAN} * {self.u('slat', key)})"

    def _station_lon(self, key: str = "sid") -> str:
        return f"({LON0} + {LON_SPAN} * {self.u('slon', key)})"

    def _station_id(self, key: str = "sid") -> str:
        return f"CAST({STATION_ID0} + {key} AS VARCHAR)"

    def _obs_rows(self, first_hour: int, n_hours: int) -> str:
        """Observation rows for hour indexes [first_hour, first_hour+n_hours)
        after BASE; row id = hour * n_stations + station, as in
        make_weather_dir, so a later hour continues the same streams."""
        n = self.scale.stations
        return f"""
          SELECT {self._station_id()} AS station_id,
                 TIMESTAMP '{_ts(BASE)}' + to_hours(h) AS timestamp,
                 {self._measures()},
                 {self._station_lat()} AS latitude,
                 {self._station_lon()} AS longitude,
                 'synthetic' AS source,
                 {self.u('val')} < 0.92 AS validated,
                 'historical' AS source_type,
                 TIMESTAMP '{_ts(BASE)}' + to_hours(h + 1) AS _ingest_ts
          FROM (SELECT range AS id, range % {n} AS sid,
                       range // {n} AS h
                FROM range({first_hour * n}, {(first_hour + n_hours) * n}))"""

    # -- tables ------------------------------------------------------------

    def write_bronze(self, root: str, end_hour: int) -> None:
        """Dims plus `end_hour` hours of observations and the forecast
        issues of every day up to and including the day of `end_hour`,
        date-partitioned like ``sources.writers`` lays out fact tables."""
        sc = self.scale
        u = self.u
        bronze = os.path.join(root, "bronze")
        os.makedirs(bronze, exist_ok=True)
        con = self.con

        def copy(select: str, table: str, part: str | None) -> None:
            path = os.path.join(bronze, table)
            opts = "FORMAT parquet"
            if part:
                select = f"SELECT *, CAST({part} AS DATE) AS __part_date FROM ({select})"
                opts += ", PARTITION_BY (__part_date)"
                con.execute(f"COPY ({select}) TO '{path}' ({opts})")
            else:
                os.makedirs(path, exist_ok=True)
                con.execute(f"COPY ({select}) TO '{path}/part-0.parquet' ({opts})")

        copy(f"""
          SELECT {self._station_id()} AS station_id,
                 'Station ' || CAST(sid AS VARCHAR) AS station_name,
                 CASE WHEN {u('snull')} < 0.01 THEN NULL
                      ELSE {self._station_lat()} END AS latitude,
                 CASE WHEN {u('snull')} < 0.01 THEN NULL
                      ELSE {self._station_lon()} END AS longitude,
                 500.0 * {u('alt')} AS altitude,
                 'synthetic' AS source,
                 TIMESTAMP '{_ts(BASE)}' AS first_record_date,
                 TIMESTAMP '{_ts(BASE)}' AS last_record_date
          FROM (SELECT range AS id, range AS sid FROM range({sc.stations}))""",
             "weather_stations", None)
        copy(f"""
          SELECT printf('1%04d', id) AS postal_code,
                 'Berlin' AS city, 'BE' AS state,
                 {LAT0} + {LAT_SPAN} * {u('plat')} AS centroid_lat,
                 {LON0} + {LON_SPAN} * {u('plon')} AS centroid_lon
          FROM (SELECT range AS id FROM range({sc.postal_codes}))""",
             "postal_codes", None)
        copy(self._obs_rows(0, end_hour), "raw_weather_observations", "timestamp")

        n_days = end_hour // 24 + 1
        per_day = sc.stations * 12
        copy(f"""
          SELECT {self._station_id()} AS station_id,
                 TIMESTAMP '{_ts(BASE)}' + to_hours(day * 24) AS forecast_timestamp,
                 TIMESTAMP '{_ts(BASE)}' + to_hours(day * 24 + t + 1)
                   AS target_timestamp,
                 {self._measures()},
                 {self._station_lat()} AS latitude,
                 {self._station_lon()} AS longitude,
                 'synthetic' AS source,
                 TIMESTAMP '{_ts(BASE)}' + to_hours(day * 24) AS _ingest_ts
          FROM (SELECT range AS id, range // {per_day} AS day,
                       (range % {per_day}) % {sc.stations} AS sid,
                       (range % {per_day}) // {sc.stations} AS t
                FROM range({n_days * per_day}))""",
             "raw_weather_forecasts", "forecast_timestamp")

    def hourly_batch(self, landing: str, hour: int) -> tuple[str, str, str, int]:
        """BrightSky-shaped landing files for observation hour `hour`.

        Writes ``records.json`` (one record per station, plus one extra
        record per ten stations from a source that ``sources[]`` does not
        list -- routing drops those) and ``sources.json`` (historical for
        validated rows, synop otherwise).  Returns (records path, sources
        path, probe postal code, number of records).  The probe postal
        code lies within PROBE_RADIUS_KM of a station whose record for the
        hour survives cleaning, so gold must carry the hour for it.
        """
        n = self.scale.stations
        os.makedirs(landing, exist_ok=True)
        rec_path = os.path.join(landing, "records.json")
        src_path = os.path.join(landing, "sources.json")
        rows = self._obs_rows(hour, 1)
        n_unknown = max(1, n // 10)
        self.con.execute(f"""
          COPY (
            SELECT strftime(timestamp, '%Y-%m-%dT%H:%M:%SZ') AS timestamp,
                   CAST(station_id AS BIGINT) AS source_id,
                   temperature, precipitation, wind_speed, wind_direction,
                   cloud_cover, pressure AS pressure_msl, sunshine, visibility,
                   dew_point, humidity AS relative_humidity
            FROM ({rows})
            UNION ALL
            SELECT strftime(TIMESTAMP '{_ts(BASE)}' + to_hours({hour}),
                            '%Y-%m-%dT%H:%M:%SZ'),
                   {UNKNOWN_SOURCE_ID0} + range, 1.0, 0.0, 1.0, 0, 0, 1000.0,
                   0.0, 10.0, 0.0, 50
            FROM range({n_unknown})
          ) TO '{rec_path}' (FORMAT json)""")
        self.con.execute(f"""
          COPY (
            SELECT CAST(station_id AS BIGINT) AS id,
                   CASE WHEN validated THEN 'historical' ELSE 'synop' END
                     AS observation_type,
                   latitude AS lat, longitude AS lon, 100.0 AS height,
                   'Station ' || station_id AS station_name,
                   station_id AS wmo_station_id,
                   '{BASE.strftime('%Y-%m-%dT%H:%M:%SZ')}' AS first_record,
                   strftime(timestamp, '%Y-%m-%dT%H:%M:%SZ') AS last_record
            FROM ({rows})
          ) TO '{src_path}' (FORMAT json)""")
        probe = self.con.execute(f"""
          WITH ok AS (
            SELECT {self._station_lat()} AS lat, {self._station_lon()} AS lon
            FROM (SELECT range AS id, range % {n} AS sid
                  FROM range({hour * n}, {(hour + 1) * n}))
            WHERE {self.u('val')} < 0.92 AND {self.u('crit')} >= 0.02
              AND {self.u('out')} >= 0.01 AND {self.u('snull', 'sid')} >= 0.01
          ),
          pcs AS (
            SELECT printf('1%04d', id) AS pc,
                   {LAT0} + {LAT_SPAN} * {self.u('plat')} AS lat,
                   {LON0} + {LON_SPAN} * {self.u('plon')} AS lon,
                   {self.u(f'probe{hour}')} AS pick
            FROM (SELECT range AS id FROM range({self.scale.postal_codes}))
          )
          SELECT pc FROM pcs
          WHERE EXISTS (
            SELECT 1 FROM ok
            WHERE 2 * 6371.0 * asin(sqrt(
                    pow(sin(radians(ok.lat - pcs.lat) / 2), 2)
                    + cos(radians(pcs.lat)) * cos(radians(ok.lat))
                    * pow(sin(radians(ok.lon - pcs.lon) / 2), 2)))
                  <= {PROBE_RADIUS_KM})
          ORDER BY pick LIMIT 1""").fetchone()
        if probe is None:
            raise RuntimeError(f"hour {hour}: no postal code covered by a clean station")
        return rec_path, src_path, probe[0], n + n_unknown


"""Serving-layer queries over the gold tables.

The primary judged query surface (SURVEY.md §3.3): pure DataFrame functions
mirroring the reference's FastAPI endpoints (`src/api/endpoints/weather.py`),
views (`sql/schema.sql:312-350`) and stored functions
(`sql/schema.sql:357-437`). A FastAPI wrapper would just call these.

Every NOW() is an explicit ``asof`` parameter.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import ntz_lit
from ..functions.geo import haversine_km
from ..functions.rounding import rnd


def weather_history(
    gold: DataFrame, postal_code: str, data_type: str, asof: dt.datetime,
    hours: int = 24,
) -> DataFrame:
    """Last-N-hours rows for one postal code (weather.py:18-67).

    Replicates actual behavior: ``hours`` bounds both the range filter and
    the LIMIT (weather.py:43-51). Selects the schema's
    relative_humidity_avg (the reference SQL names a nonexistent
    humidity_avg — bug Q9; we serve the real column). Rows of one hour
    from several forecast issues are ordered newest issue first, so the
    LIMIT keeps a fixed subset.
    """
    cutoff = ntz_lit(asof) - F.expr(f"INTERVAL {int(hours)} HOURS")
    return (
        gold.filter(
            (F.col("postal_code") == postal_code)
            & (F.col("data_type") == data_type)
            & (F.col("timestamp") >= cutoff)
        )
        .select(
            "postal_code", "timestamp", "data_type", "forecast_timestamp",
            "temperature_avg", "temperature_min", "temperature_max",
            "precipitation_sum", "wind_speed_avg", "wind_direction_avg",
            "cloud_cover_avg", "pressure_msl_avg", "relative_humidity_avg",
            "num_stations", "avg_quality_score",
        )
        .orderBy(F.desc("timestamp"), F.desc("forecast_timestamp"))
        .limit(int(hours))
    )


def latest_weather(gold: DataFrame, postal_code: str) -> DataFrame:
    """Most recent observation row for one postal code (weather.py:69-106)."""
    return (
        gold.filter(
            (F.col("postal_code") == postal_code)
            & (F.col("data_type") == "observation")
        )
        .orderBy(F.desc("timestamp"))
        .limit(1)
    )


def forecast_window(
    gold: DataFrame, postal_code: str, asof: dt.datetime, hours_ahead: int = 48
) -> DataFrame:
    """Forecast rows from asof to asof+N hours, ascending (weather.py:108-152);
    the forecast issues of one target hour in issue order."""
    return (
        gold.filter(
            (F.col("postal_code") == postal_code)
            & (F.col("data_type") == "forecast")
            & (F.col("timestamp") >= ntz_lit(asof))
            & (
                F.col("timestamp")
                <= ntz_lit(asof) + F.expr(f"INTERVAL {int(hours_ahead)} HOURS")
            )
        )
        .orderBy("timestamp", "forecast_timestamp")
    )


def v_latest_observations(gold: DataFrame, pin: bool = True) -> DataFrame:
    """All postal codes at the single global max observation hour
    (schema.sql:312-328 — the reference view uses a GLOBAL max, not
    per-postal-code; replicated as a 1-row broadcast cross join — NEVER
    a global window, which would funnel gold through SinglePartition).

    The plan BRANCHES on the filtered gold (max-agg branch + equality-
    filter branch), so when ``gold`` is a lazy transform plan rather
    than a materialized table, both branches recompute the post-shuffle
    side of the upstream pipeline (Spark's ReusedExchange already
    de-duplicates the shuffle map side). ``pin`` (default) pins the
    branch head via ``stage_cache`` so the second branch reads cached
    blocks; result-invisible (oracle-checked), bounded by the view's
    own input size (gold is postal x hour, already aggregated).

    ORDER MATTERS: the data_type filter and the COLUMN PRUNE both sit
    BEFORE the pin. A checkpoint materializes exactly the columns it is
    given and Catalyst cannot prune through it — pinning the full gold
    row froze all ~18 aggregate expressions into the obs pass and
    measured SLOWER than the unpinned plan at the 30x weather dir
    (86.5 s vs the pipeline's own 84.3); pruning to the view's 8
    output columns first lets the aggregate itself shrink, and the
    data_type filter eliminates the forecast branch of the gold union
    entirely. Pass ``pin=False`` when gold is a plain table read —
    there the double scan is cheaper than a materialization."""
    from ..functions.caching import stage_cache

    obs = gold.filter(F.col("data_type") == "observation").select(
        "postal_code", "timestamp", "temperature_avg", "precipitation_sum",
        "wind_speed_avg", "cloud_cover_avg", "num_stations",
        "avg_quality_score",
    )
    if pin:
        obs = stage_cache(obs)
    hi = obs.agg(F.max("timestamp").alias("__max_ts"))
    return (
        obs.crossJoin(F.broadcast(hi))
        .filter(F.col("timestamp") == F.col("__max_ts"))
        .drop("__max_ts")
    )


def v_latest_forecasts(gold: DataFrame, pin: bool = True) -> DataFrame:
    """All rows of the most recent forecast issue (schema.sql:331-350).
    Same branch-pinning rationale (and prune-before-pin order) as
    :func:`v_latest_observations`."""
    from ..functions.caching import stage_cache

    fcst = gold.filter(F.col("data_type") == "forecast").select(
        "postal_code", "forecast_timestamp", "timestamp",
        "temperature_avg", "precipitation_sum", "wind_speed_avg",
        "cloud_cover_avg", "num_stations",
    )
    if pin:
        fcst = stage_cache(fcst)
    hi = fcst.agg(F.max("forecast_timestamp").alias("__max_issue"))
    return (
        fcst.crossJoin(F.broadcast(hi))
        .filter(F.col("forecast_timestamp") == F.col("__max_issue"))
        .select(
            "postal_code", "forecast_timestamp",
            F.col("timestamp").alias("target_time"),
            "temperature_avg", "precipitation_sum", "wind_speed_avg",
            "cloud_cover_avg", "num_stations",
        )
        .orderBy("postal_code", "target_time")
    )


def nearest_stations(
    stations: DataFrame, postal_codes: DataFrame, postal_code: str, k: int = 3
) -> DataFrame:
    """K nearest stations to a postal centroid (schema.sql:357-385).

    Pure top-k by distance — the declared p_max_distance_km parameter is
    dead in the reference (quirk Q7), so no radius filter here either.
    Physical plan: 1-row broadcast + TakeOrderedAndProject (no full sort).
    """
    pc = postal_codes.filter(F.col("postal_code") == postal_code).select(
        "centroid_lat", "centroid_lon"
    )
    dist = haversine_km(
        F.col("latitude"), F.col("longitude"),
        F.col("centroid_lat"), F.col("centroid_lon"),
    )
    return (
        stations.crossJoin(F.broadcast(pc))
        .select(
            "station_id", "station_name", rnd(dist, 2).alias("distance_km")
        )
        .orderBy("distance_km", "station_id")
        .limit(int(k))
    )


def nearest_stations_all(
    stations: DataFrame, postal_codes: DataFrame, k: int = 3
) -> DataFrame:
    """All-postal-codes-at-once KNN (the scale form of nearest_stations):
    broadcast the station dim, window top-k per postal code."""
    dist = haversine_km(
        F.col("latitude"), F.col("longitude"),
        F.col("centroid_lat"), F.col("centroid_lon"),
    )
    w = Window.partitionBy("postal_code").orderBy("distance_km", "station_id")
    return (
        postal_codes.crossJoin(
            F.broadcast(stations.select("station_id", "station_name",
                                        "latitude", "longitude"))
        )
        .select("postal_code", "station_id", "station_name",
                rnd(dist, 2).alias("distance_km"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def forecast_accuracy(gold: DataFrame) -> DataFrame:
    """Forecast-vs-observation error rows (schema.sql:388-437,
    `calculate_forecast_accuracy` generalized to all postal codes/times —
    the stored function's per-(postal, time) filter becomes the join key).
    """
    f = gold.filter(F.col("data_type") == "forecast").alias("f")
    o = gold.filter(F.col("data_type") == "observation").alias("o")
    joined = f.join(
        o,
        (F.col("f.postal_code") == F.col("o.postal_code"))
        & (F.col("f.timestamp") == F.col("o.timestamp")),
    ).filter(
        F.col("f.timestamp")
        <= F.col("o.timestamp") + F.expr("INTERVAL 1 HOURS")
    )
    t_err = F.abs(F.col("f.temperature_avg") - F.col("o.temperature_avg"))
    p_err = F.abs(F.col("f.precipitation_sum") - F.col("o.precipitation_sum"))
    w_err = F.abs(F.col("f.wind_speed_avg") - F.col("o.wind_speed_avg"))
    mae = (
        F.abs(F.col("f.temperature_avg") - F.col("o.temperature_avg"))
        + F.abs(
            F.coalesce(F.col("f.precipitation_sum"), F.lit(0.0))
            - F.coalesce(F.col("o.precipitation_sum"), F.lit(0.0))
        )
        + F.abs(F.col("f.wind_speed_avg") - F.col("o.wind_speed_avg"))
    ) / 3.0
    lead_hours = (
        F.unix_micros(F.col("f.timestamp").cast("timestamp"))
        - F.unix_micros(F.col("f.forecast_timestamp").cast("timestamp"))
    ) / 3_600_000_000.0
    return joined.select(
        F.col("f.postal_code").alias("postal_code"),
        F.col("f.forecast_timestamp").alias("forecast_issue_time"),
        F.col("f.timestamp").alias("forecast_target_time"),
        F.col("o.timestamp").alias("observed_time"),
        t_err.alias("temperature_error"),
        p_err.alias("precipitation_error"),
        w_err.alias("wind_speed_error"),
        mae.alias("mae"),
        lead_hours.alias("lead_time_hours"),
    )

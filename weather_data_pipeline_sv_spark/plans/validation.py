"""ML-readiness validation over the gold table.

Re-expresses `src/transformation/transform.py:126-265`
(``validate_ml_ready_data``) as one groupBy-less aggregate -- one Spark job
-- whose conditional aggregates keep each of the reference's three queries'
own filter, plus the reference's exact pass/fail thresholds (≥50 postal
codes per type, avg quality ≥0.5, ≤20% NULL temperature, ≤10% zero-station
rows), anchored to an explicit ``asof`` instead of NOW().
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import ntz_lit

MIN_POSTAL_CODES = 50
MIN_QUALITY = 0.5
MAX_NULL_TEMP_PCT = 20.0
MAX_NO_STATION_PCT = 10.0


def validate_ml_ready_data(
    gold: DataFrame, asof: dt.datetime, window_hours: int = 24
) -> dict[str, Any]:
    cutoff = ntz_lit(asof) - F.expr(f"INTERVAL {int(window_hours)} HOURS")
    # each metric keeps the reference query's own filter; rows outside
    # all three never reach the aggregate
    recent = F.col("timestamp") >= cutoff
    is_obs = (F.col("data_type") == "observation") & recent
    is_fcst = (F.col("data_type") == "forecast") & (
        F.col("forecast_timestamp") >= cutoff
    )
    m = (
        gold.filter(recent | is_fcst)
        .agg(
            F.countDistinct(F.when(is_obs, F.col("postal_code"))).alias("obs_codes"),
            F.avg(F.when(is_obs, F.col("avg_quality_score"))).alias("obs_quality"),
            F.countDistinct(F.when(is_fcst, F.col("postal_code"))).alias("fcst_codes"),
            F.avg(F.when(is_fcst, F.col("avg_quality_score"))).alias("fcst_quality"),
            F.sum(F.when(recent & F.col("temperature_avg").isNull(), 1)).alias(
                "null_temp"
            ),
            F.sum(F.when(recent & (F.col("num_stations") == 0), 1)).alias(
                "no_stations"
            ),
            F.count(F.when(recent, 1)).alias("total"),
        )
        .first()
    )

    results: dict[str, Any] = {
        "passed": True,
        "issues": [],
        "obs_postal_codes": m["obs_codes"] or 0,
        "fcst_postal_codes": m["fcst_codes"] or 0,
        "obs_quality": float(m["obs_quality"]) if m["obs_quality"] else 0.0,
        "fcst_quality": float(m["fcst_quality"]) if m["fcst_quality"] else 0.0,
    }

    def fail(msg: str) -> None:
        results["issues"].append(msg)
        results["passed"] = False

    if results["obs_postal_codes"] < MIN_POSTAL_CODES:
        fail(f"Low observations coverage: only {results['obs_postal_codes']} postal codes")
    if results["obs_quality"] < MIN_QUALITY:
        fail(f"Low observations quality: {results['obs_quality']:.2f}")
    if results["fcst_postal_codes"] < MIN_POSTAL_CODES:
        fail(f"Low forecasts coverage: only {results['fcst_postal_codes']} postal codes")

    total = m["total"] or 0
    if total > 0:
        null_pct = (m["null_temp"] or 0) / total * 100
        if null_pct > MAX_NULL_TEMP_PCT:
            fail(f"High percentage of null temperatures: {null_pct:.1f}%")
        no_st_pct = (m["no_stations"] or 0) / total * 100
        if no_st_pct > MAX_NO_STATION_PCT:
            fail(f"High percentage of records with no stations: {no_st_pct:.1f}%")
    else:
        fail("No records found in analytics table for validation")

    return results

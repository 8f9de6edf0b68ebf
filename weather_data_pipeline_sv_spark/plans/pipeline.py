"""End-to-end transform pipeline: bronze → silver → gold.

Mirrors the reference DAG's task graph (`dags/transform_weather_dag.py`):
observations and forecasts transform independently (clean → temporal check →
aggregate), results merge into gold with update-wins semantics
(the `ON CONFLICT … DO UPDATE` at `aggregation.py:205-222`), then a
validation barrier reads the merged gold. Airflow's cron + max_active_runs
becomes "call run_transform with an explicit asof"; idempotent re-runs fall
out of merge-by-key.

The window's gold is computed once, when ``run_transform`` is called, and
held as a local checkpoint (``functions/caching.stage_cache``): the
validation, the upsert's touched-dates collect and its write each read the
stored blocks instead of re-running clean → spatial fan-out → aggregation.
The blocks are released when the returned frames are garbage-collected.
Lineage is truncated, so losing an executor that holds blocks fails the
run loudly and the scheduler retries it; nothing is recomputed silently.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from ..functions.caching import stage_cache
from ..operators.merge import merge_update_wins
from .aggregation import FORECAST, OBSERVATION, aggregate_to_postal_codes
from .cleaning import check_temporal_consistency, clean_forecasts, clean_observations
from .validation import validate_ml_ready_data

GOLD_KEYS = ["postal_code", "timestamp", "data_type", "forecast_timestamp"]


@dataclass
class TransformResult:
    stg_observations: DataFrame
    stg_forecasts: DataFrame
    gold: DataFrame
    temporal_issues: int
    validation: dict[str, Any] = field(default_factory=dict)


def run_transform(
    raw_observations: DataFrame,
    raw_forecasts: DataFrame,
    stations: DataFrame,
    postal_codes: DataFrame,
    asof: dt.datetime,
    existing_gold: DataFrame | None = None,
    obs_lookback_hours: int = 168,
    fcst_lookback_hours: int = 48,
    validate: bool = False,
    spatial_join: str = "broadcast",
) -> TransformResult:
    """One full transform run (both DAG branches + merge + barrier).

    ``existing_gold``: pass the current gold table for incremental
    (ON CONFLICT-equivalent) behavior; None for a first load.
    ``spatial_join``: fan-out strategy for the postal mapping —
    "broadcast" (reference-scale default), "grid" (the X4 equi-join
    path), or "auto" (size the dim and pick; see plans/aggregation.py).

    The window's gold (both branches, before the merge with
    ``existing_gold``) is computed here, once, and every later action on
    ``gold`` reads its stored blocks; they are released when the frame is
    garbage-collected. An executor lost while holding them fails the run
    loudly (the lineage is truncated) and the scheduler retries it.
    """
    stg_obs = clean_observations(raw_observations, asof, obs_lookback_hours)
    stg_fcst = clean_forecasts(raw_forecasts, asof, fcst_lookback_hours)

    issues = check_temporal_consistency(stg_obs, asof, lookback_hours=24).count()

    gold_obs = aggregate_to_postal_codes(
        stg_obs, stations, postal_codes, OBSERVATION, asof,
        lookback_hours=obs_lookback_hours, spatial_join=spatial_join,
    )
    gold_fcst = aggregate_to_postal_codes(
        stg_fcst, stations, postal_codes, FORECAST, asof,
        lookback_hours=fcst_lookback_hours, spatial_join=spatial_join,
    )
    incoming = stage_cache(gold_obs.unionByName(gold_fcst), eager=True)

    if existing_gold is not None:
        gold = merge_update_wins(existing_gold, incoming, GOLD_KEYS)
    else:
        gold = incoming

    result = TransformResult(
        stg_observations=stg_obs,
        stg_forecasts=stg_fcst,
        gold=gold,
        temporal_issues=issues,
    )
    if validate:
        result.validation = validate_ml_ready_data(gold, asof)
    return result

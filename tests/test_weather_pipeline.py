"""Weather-pipeline golden tests: Spark plans vs an independent DuckDB
oracle on the synthetic bronze fixtures (FIXTURES.md), plus targeted unit
tests for every reference quirk (SURVEY.md §2.10).
"""

from __future__ import annotations

import datetime
import math
import shutil

import duckdb
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from weather_data_pipeline_sv_spark.operators.merge import (
    merge_first_wins,
    merge_partial_update,
    merge_update_wins,
)
from weather_data_pipeline_sv_spark.plans import schemas
from weather_data_pipeline_sv_spark.plans.aggregation import aggregate_to_postal_codes
from weather_data_pipeline_sv_spark.plans.cleaning import (
    check_temporal_consistency,
    clean_forecasts,
    clean_observations,
)
from weather_data_pipeline_sv_spark.plans.pipeline import GOLD_KEYS, run_transform
from weather_data_pipeline_sv_spark.plans.validation import validate_ml_ready_data
from weather_data_pipeline_sv_spark.sources import writers

from weather_fixtures import ASOF, build_all
from weather_oracle import gold_oracle_sql, temporal_issue_count_sql

SCHEMAS = {
    "weather_stations": schemas.WEATHER_STATIONS,
    "postal_codes": schemas.POSTAL_CODES,
    "raw_weather_observations": schemas.RAW_WEATHER_OBSERVATIONS,
    "raw_weather_forecasts": schemas.RAW_WEATHER_FORECASTS,
}

# run_transform's positional table order
SCHEMAS_ORDER = ["raw_weather_observations", "raw_weather_forecasts",
                 "weather_stations", "postal_codes"]

GOLD_COMPARE_COLS = [
    f.name
    for f in schemas.ANALYTICS_WEATHER_BY_POSTAL_CODE.fields
    if f.name not in ("interpolated_fields", "created_at", "updated_at")
]


@pytest.fixture(scope="session")
def weather_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("weather_bronze")
    for name, rows in build_all().items():
        spark.createDataFrame(rows, schema=SCHEMAS[name]).write.mode(
            "overwrite"
        ).parquet(str(base / name))
    return base


@pytest.fixture(scope="session")
def bronze(spark, weather_dir):
    return _read_bronze(spark, weather_dir)


def _read_bronze(spark, base):
    out = {
        name: spark.read.schema(SCHEMAS[name]).parquet(str(base / name))
        for name in SCHEMAS
    }
    # ingestion-time key enforcement (reference ON CONFLICT at insert):
    # obs update-wins (S5), forecasts first-wins / DO NOTHING (S6)
    empty_obs = spark.createDataFrame([], schemas.RAW_WEATHER_OBSERVATIONS)
    empty_fcst = spark.createDataFrame([], schemas.RAW_WEATHER_FORECASTS)
    out["raw_weather_observations"] = merge_update_wins(
        empty_obs, out["raw_weather_observations"],
        ["station_id", "timestamp"], order_col="_ingest_ts",
    )
    out["raw_weather_forecasts"] = merge_first_wins(
        empty_fcst, out["raw_weather_forecasts"],
        ["station_id", "forecast_timestamp", "target_timestamp"],
        order_col="_ingest_ts",
    )
    return out


@pytest.fixture(scope="session")
def duck(weather_dir):
    con = duckdb.connect()
    for name in SCHEMAS:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{weather_dir / name}/*.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _rows(rows):
    return sorted(repr(tuple(_norm(v) for v in r)) for r in rows)


@pytest.mark.parametrize(
    "data_type,lookback", [("observation", 168), ("forecast", 48)]
)
def test_gold_matches_oracle(spark, bronze, duck, data_type, lookback):
    if data_type == "observation":
        stg = clean_observations(bronze["raw_weather_observations"], ASOF, lookback)
    else:
        stg = clean_forecasts(bronze["raw_weather_forecasts"], ASOF, lookback)
    gold = aggregate_to_postal_codes(
        stg,
        bronze["weather_stations"],
        bronze["postal_codes"],
        data_type,
        ASOF,
        lookback_hours=lookback,
    ).select(*GOLD_COMPARE_COLS)

    res = duck.execute(gold_oracle_sql(data_type, ASOF, lookback))
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert gold.columns == duck_cols
    spark_rows = [tuple(r) for r in gold.collect()]
    assert len(spark_rows) == len(duck_rows) > 0
    s, d = _rows(spark_rows), _rows(duck_rows)
    diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
    assert s == d, f"{data_type} gold mismatch; first diffs: {diffs}"


def test_gold_edge_cases_present(spark, bronze):
    """The fixture edge cases actually exercise the intended paths."""
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)
    gold = aggregate_to_postal_codes(
        stg, bronze["weather_stations"], bronze["postal_codes"],
        "observation", ASOF, lookback_hours=168,
    )
    rows = gold.collect()
    codes = {r["postal_code"] for r in rows}
    assert "10115" in codes  # zero-distance postal code present
    # NULL-centroid and out-of-range postal codes absent
    assert not codes & {
        f"{10115 + 27 * 7:05d}", f"{10115 + 28 * 7:05d}", f"{10115 + 29 * 7:05d}"
    }
    # far-away station never contributes: every group within 50 km
    assert all(r["max_distance_km"] <= 50.0 for r in rows)
    # multi-station and single-station hours both occur
    n_st = {r["num_stations"] for r in rows}
    assert max(n_st) >= 2


def test_temporal_consistency_matches_oracle(spark, bronze, duck):
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)
    n_spark = check_temporal_consistency(stg, ASOF, 24).count()
    n_duck = duck.execute(temporal_issue_count_sql(ASOF, 24)).fetchone()[0]
    assert n_spark == n_duck > 0  # fixture plants at least one true jump


def test_run_transform_end_to_end(spark, bronze):
    res = run_transform(
        bronze["raw_weather_observations"],
        bronze["raw_weather_forecasts"],
        bronze["weather_stations"],
        bronze["postal_codes"],
        ASOF,
        validate=True,
    )
    gold = res.gold.cache()
    types = {r["data_type"] for r in gold.select("data_type").distinct().collect()}
    assert types == {"observation", "forecast"}
    # gold key uniqueness (reference UNIQUE constraint, schema.sql:235)
    dup = (
        gold.groupBy("postal_code", "timestamp", "data_type", "forecast_timestamp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # observation rows carry NULL forecast_timestamp; forecast rows don't
    assert (
        gold.filter(
            (F.col("data_type") == "observation")
            & F.col("forecast_timestamp").isNotNull()
        ).count()
        == 0
    )
    assert (
        gold.filter(
            (F.col("data_type") == "forecast") & F.col("forecast_timestamp").isNull()
        ).count()
        == 0
    )
    assert res.temporal_issues > 0
    assert set(res.validation) >= {"passed", "issues", "obs_postal_codes"}
    gold.unpersist()


def test_gold_outlives_its_inputs(spark, bronze, weather_dir, tmp_path):
    """run_transform computes the window's gold once, when it is called:
    validating and upserting it afterwards reads stored blocks, so they
    still work after the bronze files are gone. A gold that re-ran its
    plan per action would re-read the deleted files here."""
    copy = tmp_path / "bronze"
    shutil.copytree(weather_dir, copy)
    copied = _read_bronze(spark, copy)
    res = run_transform(*(copied[n] for n in SCHEMAS_ORDER), ASOF, validate=True)
    shutil.rmtree(copy)
    writers.upsert_table(spark, res.gold, str(tmp_path), "gold", "t",
                         GOLD_KEYS, "timestamp")
    got = writers.read_table(spark, str(tmp_path), "gold", "t")
    want = run_transform(*(bronze[n] for n in SCHEMAS_ORDER), ASOF).gold
    a = _rows([tuple(r) for r in got.select(*GOLD_COMPARE_COLS).collect()])
    b = _rows([tuple(r) for r in want.select(*GOLD_COMPARE_COLS).collect()])
    assert a == b and len(a) > 0
    assert res.validation["obs_postal_codes"] > 0


def test_idempotent_rerun(spark, bronze):
    """Re-running the transform and merging into existing gold is a no-op
    (the ON CONFLICT idempotency property, aggregation.py:205-222)."""
    kwargs = dict(
        raw_observations=bronze["raw_weather_observations"],
        raw_forecasts=bronze["raw_weather_forecasts"],
        stations=bronze["weather_stations"],
        postal_codes=bronze["postal_codes"],
        asof=ASOF,
    )
    first = run_transform(**kwargs).gold
    second = run_transform(existing_gold=first, **kwargs).gold
    assert second.count() == first.count()
    a = _rows([tuple(r) for r in first.select(*GOLD_COMPARE_COLS).collect()])
    b = _rows([tuple(r) for r in second.select(*GOLD_COMPARE_COLS).collect()])
    assert a == b


def test_generated_code_is_reused_across_runs(spark, bronze, tmp_path):
    """Consecutive cron runs in one driver JVM, as under a long-lived
    Scheduler, reuse each other's generated classes: only the ones that
    inline the run's ``asof`` literal are compiled again (20 on this
    fixture). With Spark's default codegen cache of 100 entries
    (session.py) each run evicts the classes the next one needs, and the
    last run below compiled 116-121."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def cron_run(asof):
        r = run_transform(*(bronze[n] for n in SCHEMAS_ORDER), asof,
                          validate=True)
        writers.upsert_table(spark, r.gold, str(tmp_path), "gold", "t",
                             GOLD_KEYS, "timestamp")

    hour = datetime.timedelta(hours=1)
    cron_run(ASOF - hour)  # first load: gold exists before the runs compared
    cron_run(ASOF)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    cron_run(ASOF + hour)
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before <= 40


def test_runtime_errors_still_raise(spark, bronze):
    """get_spark turns PySpark's per-Column call-site capture off
    (session.py). That drops only the Python line from a runtime error's
    DataFrame context: an ANSI error still fails the action with its
    condition."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    bad = bronze["weather_stations"].select(
        (F.col("latitude") / F.lit(0)).alias("x"))
    with pytest.raises(ArithmeticException) as e:
        bad.collect()
    assert e.value.getCondition() == "DIVIDE_BY_ZERO"


@pytest.mark.parametrize("data_type,lookback",
                         [("observation", 168), ("forecast", 48)])
def test_grid_spatial_path_equals_broadcast(spark, bronze, data_type,
                                            lookback):
    """The X4 grid equi-join path (spatial_join='grid') produces the
    IDENTICAL gold table as the reference-shaped broadcast-NL path —
    same pairs AND same float distances (both compute the same
    haversine), so the strategy switch is purely physical. 'auto' picks
    broadcast at this dim size (900-row postal table)."""
    if data_type == "observation":
        stg = clean_observations(
            bronze["raw_weather_observations"], ASOF, lookback)
    else:
        stg = clean_forecasts(
            bronze["raw_weather_forecasts"], ASOF, lookback)

    def gold_with(strategy):
        return aggregate_to_postal_codes(
            stg, bronze["weather_stations"], bronze["postal_codes"],
            data_type, ASOF, lookback_hours=lookback,
            spatial_join=strategy,
        ).select(*GOLD_COMPARE_COLS)

    b = _rows([tuple(r) for r in gold_with("broadcast").collect()])
    g = _rows([tuple(r) for r in gold_with("grid").collect()])
    assert b == g and len(b) > 0
    a = _rows([tuple(r) for r in gold_with("auto").collect()])
    assert a == b
    # plan pins: broadcast path is a BroadcastNestedLoopJoin (never a
    # cartesian); the grid path replaces it with an equi join on the
    # cell key — no NL join anywhere in its plan
    bplan = gold_with("broadcast")._jdf.queryExecution().executedPlan().toString()
    gplan = gold_with("grid")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in bplan
    assert "CartesianProduct" not in bplan
    assert "BroadcastNestedLoopJoin" not in gplan
    assert "CartesianProduct" not in gplan

    with pytest.raises(ValueError, match="spatial_join"):
        gold_with("bogus").collect()


def test_auto_selector_point_side_crossover(spark, bronze, monkeypatch):
    """'auto' decides on BOTH sides of the BNL cost product (round-7
    verdict #2): |points| x |centroids| haversines. At fixture scale the
    product sits far below BROADCAST_MAX_PROBE_PAIRS -> broadcast; with
    the pair budget shrunk, the SAME data must select grid (this is the
    wx30 configuration in miniature: tiny dim, big fact) — and the
    centroid cap alone must also still force grid. Results are pinned
    identical across the selection, so the heuristic is purely
    physical."""
    from weather_data_pipeline_sv_spark.plans import aggregation as agg_mod

    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)

    def gold_auto():
        return aggregate_to_postal_codes(
            stg, bronze["weather_stations"], bronze["postal_codes"],
            "observation", ASOF, lookback_hours=168, spatial_join="auto",
        ).select(*GOLD_COMPARE_COLS)

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    base = gold_auto()
    assert "BroadcastNestedLoopJoin" in plan_of(base)  # broadcast chosen
    want = _rows([tuple(r) for r in base.collect()])

    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_PROBE_PAIRS", 0)
    by_pairs = gold_auto()
    assert "BroadcastNestedLoopJoin" not in plan_of(by_pairs)  # grid chosen
    assert _rows([tuple(r) for r in by_pairs.collect()]) == want

    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_PROBE_PAIRS", 10**18)
    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_CENTROIDS", 0)
    by_dim = gold_auto()
    assert "BroadcastNestedLoopJoin" not in plan_of(by_dim)  # grid chosen
    assert _rows([tuple(r) for r in by_dim.collect()]) == want


def test_grid_path_rejects_polar_centroids(spark, bronze):
    """bucketed_range_join clamps lon replication beyond |lat| 75 and
    would silently drop near-polar matches — the operator now RAISES at
    execution (plan-embedded, covers every caller including the grid
    pipeline path), instead of quietly diverging from the broadcast
    path it is pinned pair-identical to."""
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)
    polar = bronze["postal_codes"].withColumn(
        "centroid_lat",
        F.when(F.col("postal_code") == "10115", F.lit(80.0))
        .otherwise(F.col("centroid_lat")),
    )
    gold = aggregate_to_postal_codes(
        stg, bronze["weather_stations"], polar,
        "observation", ASOF, lookback_hours=168, spatial_join="grid",
    )
    with pytest.raises(Exception, match="polar centroid latitude"):
        gold.collect()


# -- validate_ml_ready_data: every number against the reference's queries --

_H = datetime.timedelta(hours=1)
_VALIDATION_COLS = [
    ("postal_code", "VARCHAR"), ("timestamp", "TIMESTAMP"),
    ("data_type", "VARCHAR"), ("forecast_timestamp", "TIMESTAMP"),
    ("avg_quality_score", "DOUBLE"), ("temperature_avg", "DOUBLE"),
    ("num_stations", "BIGINT"),
]


def _validation_gold(n_codes, null_temp=0, no_station=0, stale_fcst=0,
                     null_quality=0):
    """Hand-built gold around ASOF (24 h window, cutoff ASOF - 24 h):
    `n_codes` observation rows at ASOF - 1 h and as many forecasts issued
    at ASOF - 1 h, so 2 * n_codes rows have `timestamp` in the window;
    the first `null_temp` of those have a NULL temperature, the last
    `no_station` have no station. `stale_fcst` forecasts of further
    postal codes are issued inside the window but target an hour before
    the cutoff; rows from two days ago are outside every filter. Both
    carry NULL temperatures and no stations, which must not count."""
    recent = [("observation", ASOF - _H, None, 0.75)] * n_codes + [
        ("forecast", ASOF + 3 * _H, ASOF - _H, 0.25)
    ] * n_codes
    rows = []
    for i, (dtype, ts, fts, q) in enumerate(recent):
        code = f"{i % max(n_codes, 1):05d}"
        if dtype == "observation" and i < null_quality:
            q = None
        temp = None if i < null_temp else 10.0
        stations = 0 if i >= len(recent) - no_station else 2
        rows.append((code, ts, dtype, fts, q, temp, stations))
    for j in range(stale_fcst):
        rows.append((f"{n_codes + j:05d}", ASOF - 30 * _H, "forecast",
                     ASOF - 3 * _H, 0.5, None, 0))
    rows.append(("99999", ASOF - 48 * _H, "observation", None, 1.0, None, 0))
    rows.append(("99999", ASOF - 48 * _H, "forecast", ASOF - 50 * _H, 1.0,
                 None, 0))
    return rows


def _reference_validation(rows):
    """The reference's three queries (transform.py:126-265) in DuckDB,
    and its thresholds and messages in plain Python."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("CREATE TABLE gold ("
                + ", ".join(f"{n} {t}" for n, t in _VALIDATION_COLS) + ")")
    if rows:
        con.executemany("INSERT INTO gold VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
    cutoff = f"TIMESTAMP '{ASOF - 24 * _H}'"
    obs_codes, obs_q = con.execute(
        "SELECT COUNT(DISTINCT postal_code), AVG(avg_quality_score) FROM gold "
        f"WHERE data_type = 'observation' AND timestamp >= {cutoff}"
    ).fetchone()
    fcst_codes, fcst_q = con.execute(
        "SELECT COUNT(DISTINCT postal_code), AVG(avg_quality_score) FROM gold "
        f"WHERE data_type = 'forecast' AND forecast_timestamp >= {cutoff}"
    ).fetchone()
    null_temp, no_st, total = con.execute(
        "SELECT SUM(CASE WHEN temperature_avg IS NULL THEN 1 ELSE 0 END), "
        "SUM(CASE WHEN num_stations = 0 THEN 1 ELSE 0 END), COUNT(*) "
        f"FROM gold WHERE timestamp >= {cutoff}"
    ).fetchone()
    con.close()
    issues = []
    if obs_codes < 50:
        issues.append(f"Low observations coverage: only {obs_codes} postal codes")
    if (obs_q or 0.0) < 0.5:
        issues.append(f"Low observations quality: {obs_q or 0.0:.2f}")
    if fcst_codes < 50:
        issues.append(f"Low forecasts coverage: only {fcst_codes} postal codes")
    if total:
        if null_temp / total * 100 > 20:
            issues.append("High percentage of null temperatures: "
                          f"{null_temp / total * 100:.1f}%")
        if no_st / total * 100 > 10:
            issues.append("High percentage of records with no stations: "
                          f"{no_st / total * 100:.1f}%")
    else:
        issues.append("No records found in analytics table for validation")
    return {
        "passed": not issues, "issues": issues,
        "obs_postal_codes": obs_codes, "fcst_postal_codes": fcst_codes,
        "obs_quality": obs_q or 0.0, "fcst_quality": fcst_q or 0.0,
    }


@pytest.mark.parametrize("kwargs,passed", [
    (dict(n_codes=0), False),  # empty window: no records, no coverage
    # stale forecasts on the thresholds: counting them as recent would
    # push the NULL-temperature and no-station shares over, or under
    (dict(n_codes=50, null_temp=20, no_station=10, null_quality=1,
          stale_fcst=5), True),
    (dict(n_codes=49, null_temp=19, no_station=9), False),
    (dict(n_codes=45, stale_fcst=5), False),  # only forecasts reach 50
    (dict(n_codes=50, null_temp=21, no_station=9, stale_fcst=5), False),
    (dict(n_codes=50, null_temp=19, no_station=11, stale_fcst=5), False),
    (dict(n_codes=50, null_quality=50), False),  # all-NULL quality -> 0.0
], ids=["empty_window", "fifty_codes_at_thresholds", "forty_nine_codes",
        "stale_forecasts", "null_temp_above", "no_station_above",
        "null_quality"])
def test_validation_numbers_match_reference(spark, kwargs, passed):
    rows = _validation_gold(**kwargs)
    full = schemas.ANALYTICS_WEATHER_BY_POSTAL_CODE
    gold = spark.createDataFrame(
        rows, schema=StructType([full[n] for n, _ in _VALIDATION_COLS]))
    got = validate_ml_ready_data(gold, ASOF)
    want = _reference_validation(rows)
    assert got == want
    assert got["passed"] is passed

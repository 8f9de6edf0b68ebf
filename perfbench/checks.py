"""Correctness checks, run outside every timed region.

- gold against the DuckDB oracle (``gold_oracle_sql`` from
  ``tests/weather_oracle.py``, loaded read-only) for a sample of postal
  codes, row for row with duplicates counted, after the backfill and again
  after the last upsert;
- GOLD_KEYS unique over the whole gold table;
- API responses against a DuckDB snapshot of the gold files the app serves.

DuckDB reads the parquet files directly, so neither check goes through the
engine under test.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import math
import os
from collections import Counter

import duckdb

BRONZE = (
    "raw_weather_observations", "raw_weather_forecasts",
    "weather_stations", "postal_codes",
)
# gold columns the oracle derives (the rest are run metadata)
ORACLE_COLS = [
    "postal_code", "timestamp", "data_type", "forecast_timestamp",
    "temperature_avg", "temperature_min", "temperature_max",
    "precipitation_sum", "wind_speed_avg", "wind_speed_max",
    "wind_direction_avg", "cloud_cover_avg", "pressure_msl_avg",
    "sunshine_sum", "visibility_avg", "dew_point_avg",
    "relative_humidity_avg", "num_stations", "avg_quality_score",
    "max_distance_km",
]
HISTORY_COLS = [
    "postal_code", "timestamp", "data_type", "forecast_timestamp",
    "temperature_avg", "temperature_min", "temperature_max",
    "precipitation_sum", "wind_speed_avg", "wind_direction_avg",
    "cloud_cover_avg", "pressure_msl_avg", "relative_humidity_avg",
    "num_stations", "avg_quality_score",
]


def _oracle_module(repo_root: str):
    path = os.path.join(repo_root, "tests", "weather_oracle.py")
    spec = importlib.util.spec_from_file_location("_perfbench_weather_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _scan(path: str) -> str:
    if any(n.startswith("__part_date=") for n in os.listdir(path)):
        return (f"(SELECT * EXCLUDE (__part_date) FROM read_parquet("
                f"'{path}/*/*.parquet', hive_partitioning = true, union_by_name = true))")
    return f"read_parquet('{path}/*.parquet')"


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def gold_vs_oracle(
    repo_root: str, bronze_root: str, gold_path: str, postal_codes: list[str],
    asof: dt.datetime, obs_lookback: int, fcst_lookback: int,
) -> list[str]:
    """Mismatch descriptions (empty when gold matches the oracle).

    Rows are compared as multisets, so a duplicated gold row is a
    mismatch."""
    oracle = _oracle_module(repo_root)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        pcs = ", ".join(f"'{p}'" for p in postal_codes)
        for t in BRONZE:
            src = _scan(os.path.join(bronze_root, t))
            where = f" WHERE postal_code IN ({pcs})" if t == "postal_codes" else ""
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}{where}")
        cols = ", ".join(ORACLE_COLS)
        want = Counter()
        for data_type, lb in (("observation", obs_lookback), ("forecast", fcst_lookback)):
            sql = oracle.gold_oracle_sql(data_type, asof, lb)
            want.update(tuple(map(_norm, r)) for r in
                        con.execute(f"SELECT {cols} FROM ({sql})").fetchall())
        got = Counter(tuple(map(_norm, r)) for r in con.execute(
            f"SELECT {cols} FROM {_scan(gold_path)} WHERE postal_code IN ({pcs})"
        ).fetchall())
    finally:
        con.close()
    out = []
    if not want:
        out.append("oracle produced no rows for the sampled postal codes")
    for r in sorted(want - got, key=repr)[:5]:
        out.append(f"missing from gold: {r}")
    for r in sorted(got - want, key=repr)[:5]:
        out.append(f"unexpected in gold: {r}")
    return out


def duplicate_keys(gold_path: str, keys: list[str]) -> list[str]:
    """Key tuples that occur more than once in gold (NULLs compare equal,
    as in the merge's key match)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        cols = ", ".join(keys)
        dups = con.execute(
            f"SELECT {cols}, count(*) FROM {_scan(gold_path)} GROUP BY ALL "
            f"HAVING count(*) > 1 ORDER BY ALL LIMIT 5").fetchall()
    finally:
        con.close()
    return [f"gold key {r[:-1]} occurs {r[-1]} times" for r in dups]


class GoldSnapshot:
    """Expected API bodies computed from the gold files with DuckDB."""

    def __init__(self, gold_path: str, asof: dt.datetime):
        self.asof = asof
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"CREATE TABLE gold AS SELECT * FROM {_scan(gold_path)}")
        self.all_cols = [r[0] for r in self.con.execute("DESCRIBE gold").fetchall()]
        self._memo: dict[tuple, tuple[int, object]] = {}

    def close(self) -> None:
        self.con.close()

    def _rows(self, cols: list[str], where: str, order: str, limit: int | None = None):
        q = f"SELECT {', '.join(cols)} FROM gold WHERE {where} ORDER BY {order}"
        if limit is not None:
            q += f" LIMIT {int(limit)}"
        return [
            {c: _json_value(v) for c, v in zip(cols, r)}
            for r in self.con.execute(q).fetchall()
        ]

    def expected(self, route: str, pc: str, n: int) -> tuple[int, object]:
        key = (route, pc, n)
        if key not in self._memo:
            self._memo[key] = self._expected(route, pc, n)
        return self._memo[key]

    def _expected(self, route: str, pc: str, n: int) -> tuple[int, object]:
        ts = self.asof.strftime("%Y-%m-%d %H:%M:%S")
        pcq = pc.replace("'", "''")
        if route == "postal":
            rows = self._rows(
                HISTORY_COLS,
                f"postal_code = '{pcq}' AND data_type = 'observation' AND "
                f"timestamp >= TIMESTAMP '{ts}' - INTERVAL {n} HOUR",
                "timestamp DESC", n,
            )
            if not rows:
                return 404, {"detail": f"No weather data found for postal code {pc}"}
            return 200, {"postal_code": pc, "data_type": "observation",
                         "records": len(rows), "data": rows}
        if route == "latest":
            rows = self._rows(
                self.all_cols,
                f"postal_code = '{pcq}' AND data_type = 'observation'",
                "timestamp DESC", 1,
            )
            if not rows:
                return 404, {"detail": f"No weather data found for postal code {pc}"}
            return 200, rows[0]
        rows = self._rows(
            self.all_cols,
            f"postal_code = '{pcq}' AND data_type = 'forecast' AND "
            f"timestamp >= TIMESTAMP '{ts}' AND "
            f"timestamp <= TIMESTAMP '{ts}' + INTERVAL {n} HOUR",
            "timestamp",
        )
        if not rows:
            return 404, {"detail": f"No forecast data found for postal code {pc}"}
        return 200, {"postal_code": pc, "forecast_hours": n,
                     "records": len(rows), "data": rows}


def _json_value(v):
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def same_body(got, want) -> bool:
    """JSON bodies equal, with NaN equal to NaN."""
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(same_body(got[k], want[k]) for k in want))
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(same_body(a, b) for a, b in zip(got, want)))
    if isinstance(want, float) and isinstance(got, float):
        return got == want or (math.isnan(got) and math.isnan(want))
    return got == want

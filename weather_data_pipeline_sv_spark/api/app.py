"""HTTP API over the gold table — the reference's FastAPI surface, served
from an in-memory snapshot of gold.

Mirrors `src/api/` of the reference exactly at the route level:

- ``GET /``                                → service banner (`main.py:30-32`)
- ``GET /health/``                         → liveness (`endpoints/health.py:9-16`)
- ``GET /weather/postal/{pc}?data_type=&hours=`` → last-N-hours envelope
  (`endpoints/weather.py:18-67`)
- ``GET /weather/latest/{pc}``             → single latest row
  (`endpoints/weather.py:69-106`)
- ``GET /weather/forecast/{pc}?hours_ahead=`` → ascending forecast window
  envelope (`endpoints/weather.py:108-152`)

404 when a postal code yields no rows, 500 with the error detail otherwise
— the same status contract as the reference's HTTPException handling.
Column divergence from the reference is deliberate and documented: the
reference SQL selects ``humidity_avg``, a column that does not exist in its
own schema (bug Q9, SURVEY §6); we serve ``relative_humidity_avg``, the
real column, matching `plans/queries.py`.

FastAPI is not installed in this environment, so the app is a
dependency-free WSGI callable (PEP 3333) — runnable under any WSGI server
(`wsgiref` for dev via :func:`serve`, gunicorn/uvicorn in production). The
HTTP layer owns routing, param parsing and JSON shaping; the rows each
route returns are specified by the DataFrame functions in
``plans/queries`` (``weather_history``, ``latest_weather``,
``forecast_window``), and ``tests/test_api.py`` checks every route's status
and body against them over random gold.

Serving snapshot: :func:`create_app` fetches the gold frame it is given
with one ``toArrow()`` job and keeps it in driver memory, sorted by
(postal_code, data_type, timestamp, forecast_timestamp) with NULLs first.
It indexes the bounds of each (postal_code, data_type) run and an int64
microsecond timestamp array. A request finds its rows by binary search in
its run and converts only the rows it returns to Python, so no request
starts a Spark job. For the benchmark's gold (`perfbench`, seed 7: 41,293
rows in 278 runs, 2 MB of parquet) the snapshot holds 7.0 MB of Arrow
buffers plus a 0.33 MB timestamp array; building it raised the driver's
Python RSS by 15 MB and took 0.26-0.95 s for ``toArrow()`` plus about
0.12 s to sort and index, on a 4-core host. Each app serves the one
snapshot it was built from: to serve a new gold commit, build a new app
over the re-read table.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import logging
import re
from collections.abc import Callable
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

_SERVICE = "weather-pipeline-api"
_VERSION = "1.0.0"

# the columns `plans.queries.weather_history` selects
_HISTORY_COLS = [
    "postal_code", "timestamp", "data_type", "forecast_timestamp",
    "temperature_avg", "temperature_min", "temperature_max",
    "precipitation_sum", "wind_speed_avg", "wind_direction_avg",
    "cloud_cover_avg", "pressure_msl_avg", "relative_humidity_avg",
    "num_stations", "avg_quality_score",
]
_ORDER = ["postal_code", "data_type", "timestamp", "forecast_timestamp"]
_EPOCH = dt.datetime(1970, 1, 1)
_US = dt.timedelta(microseconds=1)
_HOUR_US = 3_600_000_000
_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1
_INT_MAX = 2**31 - 1  # Spark's LIMIT is an int


def _utcnow() -> dt.datetime:
    """Naive-UTC now — the reference's ``datetime.utcnow()`` / SQL NOW()."""
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _jsonable(v: Any) -> Any:
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _records(table: pa.Table) -> list[dict[str, Any]]:
    return [{k: _jsonable(v) for k, v in r.items()} for r in table.to_pylist()]


def _micros(t: dt.datetime) -> int:
    """Wall-clock microseconds since the epoch, as a TIMESTAMP_NTZ holds
    them (``ntz_lit`` also drops any tzinfo)."""
    return (t.replace(tzinfo=None) - _EPOCH) // _US


class _Snapshot:
    """Gold in driver memory, sorted by ``_ORDER`` with NULLs first, so
    that reading a run backwards is Spark's DESC NULLS LAST order."""

    def __init__(self, gold: DataFrame):
        table = gold.toArrow().sort_by(
            [(c, "ascending") for c in _ORDER], null_placement="at_start"
        )
        self.table = table
        self.history_table = table.select(_HISTORY_COLS)
        # NULL timestamps become INT64_MIN: first in a run, and below
        # every range bound, so they fail the range filters as in SQL
        self.ts = table["timestamp"].cast(pa.int64()).fill_null(_I64_MIN).to_numpy()
        self.runs: dict[tuple[str, str], tuple[int, int]] = {}
        lo = 0
        keys = zip(table["postal_code"].to_pylist(), table["data_type"].to_pylist())
        for key, rows in itertools.groupby(keys):
            hi = lo + sum(1 for _ in rows)
            self.runs[key] = (lo, hi)
            lo = hi

    def _run(self, postal_code: str, data_type: str) -> tuple[int, np.ndarray]:
        """Offset and timestamps of one (postal_code, data_type) run."""
        lo, hi = self.runs.get((postal_code, data_type), (0, 0))
        return lo, self.ts[lo:hi]

    def history(self, postal_code, data_type, asof, hours):
        """``queries.weather_history``: timestamp >= asof - hours, ordered
        by timestamp DESC, forecast_timestamp DESC, LIMIT hours."""
        if not 0 <= hours <= _INT_MAX:
            raise ValueError(f"LIMIT must be between 0 and {_INT_MAX}, got {hours}")
        lo, ts = self._run(postal_code, data_type)
        a = int(np.searchsorted(ts, _micros(asof) - hours * _HOUR_US))
        a = max(a, len(ts) - hours)
        return _records(self.history_table.slice(lo + a, len(ts) - a))[::-1]

    def latest(self, postal_code):
        """``queries.latest_weather``: the last observation row."""
        lo, ts = self._run(postal_code, "observation")
        return _records(self.table.slice(lo + len(ts) - 1, 1)) if len(ts) else []

    def forecast(self, postal_code, asof, hours_ahead):
        """``queries.forecast_window``: asof <= timestamp <= asof +
        hours_ahead, ordered by timestamp, forecast_timestamp."""
        d = hours_ahead * _HOUR_US
        if not _I64_MIN <= d <= _I64_MAX:  # Spark cannot parse the INTERVAL
            raise OverflowError(f"INTERVAL {hours_ahead} HOURS overflows")
        asof_us = _micros(asof)
        lo, ts = self._run(postal_code, "forecast")
        a = int(np.searchsorted(ts, asof_us))
        end = asof_us + d
        if not _I64_MIN <= end <= _I64_MAX:
            # Spark computes asof + INTERVAL for each row that passed
            # timestamp >= asof, so it fails only if there is such a row
            if a < len(ts):
                raise OverflowError("long overflow")
            return []
        b = max(a, int(np.searchsorted(ts, end, "right")))
        return _records(self.table.slice(lo + a, b - a))


class _HttpError(Exception):
    def __init__(self, status: int, detail: Any):
        self.status, self.detail = status, detail


def _int_param(params: dict[str, str], name: str, default: int) -> int:
    """Parse an integer query param, replying 422 on junk — FastAPI's
    validation-error contract (the reference returns a 422 with a
    ``detail`` list for ``?hours=abc``; the generic handler would have
    turned the ValueError into a 500 — round-2 ADVICE)."""
    raw = params.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        raise _HttpError(
            422,
            [
                {
                    "type": "int_parsing",
                    "loc": ["query", name],
                    "msg": "Input should be a valid integer, unable to "
                    "parse string as an integer",
                    "input": raw,
                }
            ],
        ) from None


def create_app(
    spark,
    gold: DataFrame,
    asof_provider: Callable[[], dt.datetime] = _utcnow,
):
    """Build the WSGI app over a snapshot of the gold frame, taken now.

    ``spark`` is unused: ``gold`` carries its session. ``asof_provider``
    supplies the reference's NOW() — injectable so tests (and
    replay/debug runs) are deterministic."""

    snap = _Snapshot(gold)
    routes: list[tuple[re.Pattern[str], Callable[..., tuple[int, Any]]]] = []

    def route(pattern: str):
        def deco(fn):
            routes.append((re.compile(f"^{pattern}$"), fn))
            return fn

        return deco

    @route(r"/")
    def root(params):
        return 200, {"message": "Weather Data Pipeline API", "version": _VERSION}

    @route(r"/health/?")
    def health(params):
        return 200, {
            "status": "healthy",
            "timestamp": _utcnow().isoformat(),
            "service": _SERVICE,
        }

    @route(r"/weather/postal/(?P<postal_code>[^/]+)")
    def postal(params, postal_code):
        data_type = params.get("data_type", "observation")
        hours = _int_param(params, "hours", 24)
        rows = snap.history(postal_code, data_type, asof_provider(), hours)
        if not rows:
            raise _HttpError(
                404, f"No weather data found for postal code {postal_code}"
            )
        return 200, {
            "postal_code": postal_code,
            "data_type": data_type,
            "records": len(rows),
            "data": rows,
        }

    @route(r"/weather/latest/(?P<postal_code>[^/]+)")
    def latest(params, postal_code):
        rows = snap.latest(postal_code)
        if not rows:
            raise _HttpError(
                404, f"No weather data found for postal code {postal_code}"
            )
        return 200, rows[0]

    @route(r"/weather/forecast/(?P<postal_code>[^/]+)")
    def forecast(params, postal_code):
        hours_ahead = _int_param(params, "hours_ahead", 48)
        rows = snap.forecast(postal_code, asof_provider(), hours_ahead)
        if not rows:
            raise _HttpError(
                404, f"No forecast data found for postal code {postal_code}"
            )
        return 200, {
            "postal_code": postal_code,
            "forecast_hours": hours_ahead,
            "records": len(rows),
            "data": rows,
        }

    def app(environ, start_response):
        path = environ.get("PATH_INFO", "/")
        params = _parse_qs(environ.get("QUERY_STRING", ""))
        try:
            if environ.get("REQUEST_METHOD", "GET") != "GET":
                raise _HttpError(405, "Method Not Allowed")
            for pat, fn in routes:
                m = pat.match(path)
                if m:
                    status, body = fn(params, **m.groupdict())
                    break
            else:
                raise _HttpError(404, "Not Found")
        except _HttpError as e:
            status, body = e.status, {"detail": e.detail}
        except Exception as e:  # the reference's 500-with-detail contract
            logging.getLogger(__name__).exception("GET %s failed", path)
            status, body = 500, {"detail": str(e)}
        payload = json.dumps(body).encode()
        start_response(
            f"{status} {_REASON.get(status, 'OK')}",
            [
                ("Content-Type", "application/json"),
                ("Content-Length", str(len(payload))),
            ],
        )
        return [payload]

    return app


_REASON = {
    200: "OK",
    404: "Not Found",
    405: "Method Not Allowed",
    422: "Unprocessable Entity",
    500: "Internal Server Error",
}


def _parse_qs(qs: str) -> dict[str, str]:
    from urllib.parse import parse_qsl

    return dict(parse_qsl(qs))


def serve(app, host: str = "127.0.0.1", port: int = 8000):
    """Dev server (wsgiref). Production: any WSGI server, same callable."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, app) as httpd:
        httpd.serve_forever()

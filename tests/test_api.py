"""HTTP serving layer: route contract + JSON parity with the DataFrame
query functions (reference src/api/endpoints/weather.py:18-152,
health.py:9-16, main.py:8-32)."""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import random
import subprocess
import sys
import threading
from urllib.parse import urlencode
from wsgiref.simple_server import WSGIRequestHandler, make_server

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from weather_data_pipeline_sv_spark.api import create_app
from weather_data_pipeline_sv_spark.plans import queries as q

ASOF = dt.datetime(2025, 10, 10, 12, 0, 0)

_GOLD_SCHEMA = (
    "postal_code string, timestamp timestamp_ntz, data_type string, "
    "forecast_timestamp timestamp_ntz, temperature_avg double, "
    "temperature_min double, temperature_max double, precipitation_sum double, "
    "wind_speed_avg double, wind_direction_avg double, cloud_cover_avg double, "
    "pressure_msl_avg double, relative_humidity_avg double, "
    "num_stations int, avg_quality_score double"
)


def _row(pc, ts, data_type, fts=None, temp=10.0):
    return (
        pc, ts, data_type, fts, temp, temp - 2, temp + 2, 0.4, 3.2, 180.0,
        50.0, 1013.0, 70.0, 3, 0.9,
    )


@pytest.fixture(scope="module")
def gold(spark):
    rows = []
    for h in range(30):  # observations: 30 hourly rows back from ASOF
        rows.append(
            _row("10115", ASOF - dt.timedelta(hours=h), "observation", temp=10.0 + h)
        )
    for h in range(1, 60):  # forecasts: hourly rows after ASOF
        rows.append(
            _row(
                "10115", ASOF + dt.timedelta(hours=h), "forecast",
                fts=ASOF, temp=20.0 + h,
            )
        )
    rows.append(_row("99999", ASOF, "observation", temp=5.0))
    return spark.createDataFrame(rows, _GOLD_SCHEMA).cache()


@pytest.fixture(scope="module")
def client(spark, gold):
    """Real HTTP round-trip: the WSGI app under wsgiref on an OS-chosen
    port, driven through http.client."""
    app = create_app(spark, gold, asof_provider=lambda: ASOF)

    class Quiet(WSGIRequestHandler):
        def log_message(self, *a):
            pass

    httpd = make_server("127.0.0.1", 0, app, handler_class=Quiet)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()

    def get(path):
        conn = http.client.HTTPConnection("127.0.0.1", httpd.server_port)
        conn.request("GET", path)
        r = conn.getresponse()
        body = json.loads(r.read())
        conn.close()
        return r.status, body

    yield get
    httpd.shutdown()


def test_root_and_health(client):
    status, body = client("/")
    assert status == 200 and body["message"] == "Weather Data Pipeline API"
    status, body = client("/health/")
    assert status == 200 and body["status"] == "healthy"
    assert body["service"] == "weather-pipeline-api"


def test_postal_parity_with_dataframe(client, gold):
    status, body = client("/weather/postal/10115?hours=24")
    assert status == 200
    assert body["postal_code"] == "10115" and body["data_type"] == "observation"
    assert body["records"] == len(body["data"])
    # JSON parity with the DataFrame function the endpoint delegates to
    df_rows = q.weather_history(gold, "10115", "observation", ASOF, 24).collect()
    assert body["records"] == len(df_rows)
    api_first, df_first = body["data"][0], df_rows[0].asDict()
    assert api_first["temperature_avg"] == df_first["temperature_avg"]
    assert api_first["timestamp"] == df_first["timestamp"].isoformat()
    # hours bounds BOTH the range filter and the LIMIT (weather.py:43-51)
    assert body["records"] <= 24
    # real-column divergence from reference bug Q9: humidity served as
    # relative_humidity_avg
    assert "relative_humidity_avg" in api_first and "humidity_avg" not in api_first


def test_postal_hours_param(client):
    status, body = client("/weather/postal/10115?hours=5")
    assert status == 200 and body["records"] == 5


def test_latest_is_single_row_max_ts(client, gold):
    status, body = client("/weather/latest/10115")
    assert status == 200
    df_row = q.latest_weather(gold, "10115").collect()[0].asDict()
    assert body["timestamp"] == df_row["timestamp"].isoformat()
    assert body["temperature_avg"] == df_row["temperature_avg"]


def test_forecast_window_ascending(client, gold):
    status, body = client("/weather/forecast/10115?hours_ahead=10")
    assert status == 200 and body["forecast_hours"] == 10
    ts = [r["timestamp"] for r in body["data"]]
    assert ts == sorted(ts)
    assert body["records"] == len(
        q.forecast_window(gold, "10115", ASOF, 10).collect()
    )


def test_404_contract(client):
    status, body = client("/weather/postal/00000")
    assert status == 404 and "00000" in body["detail"]
    status, body = client("/weather/latest/00000")
    assert status == 404
    status, body = client("/weather/forecast/99999")
    assert status == 404 and "No forecast data" in body["detail"]
    status, _ = client("/nope")
    assert status == 404


def test_422_on_non_integer_params(client):
    # FastAPI validation contract (reference: Query(...) coercion): junk
    # ints are a 422 with a detail LIST, not a 500 (round-2 ADVICE)
    for url in (
        "/weather/postal/10115?hours=abc",
        "/weather/forecast/10115?hours_ahead=2.5",
    ):
        status, body = client(url)
        assert status == 422, url
        [d] = body["detail"]
        assert d["type"] == "int_parsing" and d["loc"][0] == "query"
    # valid params still fine after the guard
    status, _ = client("/weather/postal/10115?hours=5")
    assert status == 200


# -- the snapshot app against the spec ----------------------------------
#
# Random gold (several postal codes, both data types, overlapping forecast
# issues, NaN and NULL measures, NULL timestamps, unique GOLD_KEYS) and
# random requests. Each response must equal the JSON the reference's
# contract builds from plans/queries.py over the same gold: the body for
# 200, 404 and 422, the status alone for 500.

_PROP_SCHEMA = _GOLD_SCHEMA + ", created_at timestamp_ntz"
_PROP_PCS = ["10115", "10117", "20095"]
_HOUR = dt.timedelta(hours=1)


# every gold key over three postal codes, a NULL or one of ten hours, and
# up to five forecast issues per target hour (one NULL): a narrow span, so
# issues overlap and the range bounds and the LIMIT bind (more past than
# future hours, so that a history's lower bound binds before its LIMIT)
_PROP_KEYS = [
    (pc, None if h is None else ASOF + h * _HOUR, data_type,
     None if i is None else ASOF - i * _HOUR)
    for pc in _PROP_PCS
    for h in [None, *range(-6, 4)]
    for data_type, i in [("observation", None),
                         *(("forecast", i) for i in (None, 0, 1, 2, 3))]
]


def _prop_rows(rng, keys):
    def measure():
        return rng.choice([None, float("nan"), round(rng.uniform(-30, 40), 2)])

    return [(*k, *(measure() for _ in range(9)), rng.choice([None, 1, 3]),
             measure(), ASOF) for k in keys]


@st.composite
def _prop_gold(draw):
    # a plain Random from a drawn seed: drawing each value through
    # Hypothesis made generation slower than the Spark queries
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    return _prop_rows(rng, rng.sample(_PROP_KEYS, rng.randint(30, 90)))


# every key but the recent observations of 10115 (a history's lower bound
# binds before its LIMIT) and the timed observations of 20095 (its latest
# row has a NULL timestamp)
_EDGE_GOLD = _prop_rows(random.Random(0), [
    k for k in _PROP_KEYS
    if not (k[2] == "observation" and k[1] is not None
            and (k[0] == "20095" or (k[0] == "10115" and k[1] > ASOF - 2 * _HOUR)))
])
_EDGE_REQUESTS = [
    ("10115", ("postal", None, "4")),  # the row at the lower bound
    ("10115", ("postal", "forecast", "2")),  # the LIMIT binds
    ("10117", ("forecast", None, "2")),  # rows at both bounds
    ("10117", ("forecast", None, "2562047788")),  # overflow: a row reaches it
    ("00000", ("forecast", None, "2562047788")),  # overflow: no row reaches it
    ("20095", ("latest", None, None)),
    ("10115", ("postal", None, "-3")),
    ("10117", ("postal", "nowcast", "5")),
]

# "beyond the data" and three overflows: 2**31 of Spark's int LIMIT,
# 2562047788 of asof + INTERVAL in int64 microseconds, 10**12 of the
# INTERVAL itself
_PROP_INT = st.one_of(
    st.none(), st.integers(-3, 8).map(str),
    st.sampled_from(["24", "1000", str(2**31), "2562047788", str(10**12)]),
)
_PROP_REQUEST = st.one_of(
    st.tuples(st.just("postal"),
              st.sampled_from([None, "observation", "forecast", "nowcast"]),
              st.one_of(_PROP_INT, st.just("abc"))),
    st.tuples(st.just("latest"), st.none(), st.none()),
    st.tuples(st.just("forecast"), st.none(), st.one_of(_PROP_INT, st.just("2.5"))),
).flatmap(lambda r: st.tuples(st.sampled_from([*_PROP_PCS, "00000"]), st.just(r)))


def _wsgi_get(app, path, query):
    out = {}

    def start_response(status, headers):
        out["status"] = int(status.split()[0])

    body = b"".join(app({"PATH_INFO": path, "QUERY_STRING": query,
                         "REQUEST_METHOD": "GET"}, start_response))
    return out["status"], json.loads(body)


def _spec(gold, route, pc, data_type, raw):
    """(status, body) for one request, with rows from plans/queries.py."""
    name, default = {"postal": ("hours", 24), "latest": (None, None),
                     "forecast": ("hours_ahead", 48)}[route]
    n = default
    if raw is not None:
        try:
            n = int(raw)
        except ValueError:
            return 422, {"detail": [{
                "type": "int_parsing", "loc": ["query", name],
                "msg": "Input should be a valid integer, unable to parse "
                       "string as an integer",
                "input": raw,
            }]}
    try:
        if route == "postal":
            df = q.weather_history(gold, pc, data_type or "observation", ASOF, n)
        elif route == "latest":
            df = q.latest_weather(gold, pc)
        else:
            df = q.forecast_window(gold, pc, ASOF, n)
        rows = [
            {k: v.isoformat() if isinstance(v, dt.datetime) else v
             for k, v in r.asDict().items()}
            for r in df.collect()
        ]
    except Exception:
        return 500, None
    if not rows:
        kind = "forecast" if route == "forecast" else "weather"
        return 404, {"detail": f"No {kind} data found for postal code {pc}"}
    if route == "latest":
        return 200, rows[0]
    if route == "postal":
        head = {"postal_code": pc, "data_type": data_type or "observation"}
    else:
        head = {"postal_code": pc, "forecast_hours": n}
    return 200, {**head, "records": len(rows), "data": rows}


def _arrow_frame(spark, rows, ddl):
    """``rows`` as a DataFrame over Arrow data: queries over it start no
    Python workers, which keeps the property test fast."""
    schema = spark.createDataFrame([], ddl).schema
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


@given(rows=_prop_gold(), requests=st.lists(_PROP_REQUEST, min_size=1, max_size=8))
@example(rows=_EDGE_GOLD, requests=_EDGE_REQUESTS)
@settings(max_examples=10, deadline=None)
def test_snapshot_app_matches_spec(spark, rows, requests):
    gold = _arrow_frame(spark, rows, _PROP_SCHEMA)
    app = create_app(spark, gold, asof_provider=lambda: ASOF)
    for pc, (route, data_type, raw) in requests:
        name = {"postal": "hours", "forecast": "hours_ahead"}.get(route)
        params = {"data_type": data_type, name: raw}
        query = urlencode({k: v for k, v in params.items() if k and v is not None})
        status, body = _wsgi_get(app, f"/weather/{route}/{pc}", query)
        want_status, want_body = _spec(gold, route, pc, data_type, raw)
        assert status == want_status, (route, pc, query, body)
        if status != 500:  # NaN-aware: NaN dumps as NaN on both sides
            assert json.dumps(body) == json.dumps(want_body), (route, pc, query)


def test_snapshot_app_matches_spec_new_york_tz():
    """The same property in a fresh process whose host TZ is not UTC."""
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         f"{__file__}::test_snapshot_app_matches_spec"],
        env=dict(os.environ, TZ="America/New_York"),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]

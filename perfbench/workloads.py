"""The benchmark's workloads: ``hourly`` (write path) and ``api`` (read path).

Both start from the same set-up: seeded bronze, a backfill that writes gold
partitioned by date (checked against the DuckDB oracle, untimed), and one
hourly upsert that merges into gold -- for ``hourly`` a whole cron run,
which is also its warm-up.  Then ``hourly`` times further cron runs and
``api`` times reads by closed-loop callers.

An untraced run measures once.  A traced run measures the same phase
untraced first and then traced, and reports per-layer metrics from the
traced half plus its overhead against the untraced half.  In the traced
half every layer writes its output to scratch parquet before the next layer
reads it, so the self time of a layer's span is that layer's own work.
WORKLOADS.md records why the workloads are what they are.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from weather_data_pipeline_sv_spark.api.app import create_app
from weather_data_pipeline_sv_spark.functions import ntz_lit
from weather_data_pipeline_sv_spark.plans.aggregation import (
    FORECAST, OBSERVATION, aggregate_to_postal_codes, map_to_postal_codes,
)
from weather_data_pipeline_sv_spark.plans.cleaning import clean_forecasts, clean_observations
from weather_data_pipeline_sv_spark.plans.pipeline import GOLD_KEYS, run_transform
from weather_data_pipeline_sv_spark.plans.validation import validate_ml_ready_data
from weather_data_pipeline_sv_spark.sources import ingestion, writers

import checks
import gen
from tracing import SparkStatus, Tracer, group_metrics, job_seconds, job_span

# 30 stations x 8 days of hourly history and 150 postal codes: ~9 k bronze
# rows, ~43 k gold rows in 9 date partitions.  At this size one cron run
# takes 12-15 s on a 4-core host, almost all of it per-job cost, so the
# set-up, a warm-up run and a timed run fit the run budget.
SCALE = gen.Scale(stations=30, postal_codes=150, days=8)
OBS_LOOKBACK_H, FCST_LOOKBACK_H = 168, 48  # the reference transform DAG
GOLD = "analytics_weather_by_postal_code"
BRONZE_OBS, BRONZE_FCST = "raw_weather_observations", "raw_weather_forecasts"
ORACLE_SAMPLE = 8  # seed-chosen postal codes whose gold is checked against the oracle
HOURLY_WARMUP_RUNS = 1  # cron runs in the hourly set-up, before any timing

# api traffic (assumptions; WORKLOADS.md gives the evidence for each):
# shares of the route mix, the rest asks for unknown postal codes, whose
# 404 is the expected answer; Zipf exponent of postal-code popularity
ROUTE_MIX = (("postal", 0.40), ("latest", 0.35), ("forecast", 0.20))
ZIPF_S = 0.8
API_WARMUP_REQUESTS = 200
# latency_p50_ms is measured in a closed loop of nproc callers.  The traced
# run adds open-loop levels at shares of the capacity that closed loop
# measured, so the rates follow the program's speed instead of being fixed
# numbers: API_REF_LOAD is the reference rate, API_STEP_LOADS the steps
# that look for api.max_rps.
API_REF_LOAD = 0.5
API_STEP_LOADS = (0.8, 1.0)
API_TAIL_LIMIT_X = 4.0  # tail limit for api.max_rps, in multiples of the reference p50


@dataclass
class Ctx:
    spark: object
    repo_root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    gen: gen.Generator
    tracer: Tracer
    status: SparkStatus | None = None
    failures: list[str] = field(default_factory=list)
    probe_pcs: set[str] = field(default_factory=set)  # postal codes the probes asked for

    @property
    def data(self) -> str:
        return os.path.join(self.work, "data")

    @property
    def gold_path(self) -> str:
        return os.path.join(self.data, "gold", GOLD)

    def scratch(self, *parts: str) -> str:
        return os.path.join(self.work, "scratch", *parts)


@dataclass
class Result:
    setup_s: float
    latencies_s: list[float]
    attempted: int
    failed: int
    lines: list[str]
    layer: dict[str, float] = field(default_factory=dict)


def percentile_tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10  # samples at or below the tail value
    return 100.0 * k / n, sorted(values)[k - 1]


# -- helpers --------------------------------------------------------------


def load_bronze(spark, root: str) -> dict:
    return {t: writers.read_table(spark, root, "bronze", t) for t in checks.BRONZE}


def gold_stats(path: str) -> tuple[int, int, int]:
    """(rows, bytes, files) of a parquet table from its footers."""
    rows = size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
                files += 1
    return rows, size, files


def call(app, path: str) -> tuple[int, object]:
    out = {}

    def start_response(status, headers):
        out["status"] = int(status.split()[0])

    body = b"".join(app({"PATH_INFO": path, "QUERY_STRING": "",
                         "REQUEST_METHOD": "GET"}, start_response))
    return out["status"], json.loads(body)


def _hour_ts(hour: int) -> dt.datetime:
    return gen.BASE + dt.timedelta(hours=hour)


def _write(df, path: str):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _spark_per_op(snap, match, n: int) -> dict[str, float]:
    m = group_metrics(snap, match)
    return {
        "spark.jobs": m["jobs"] / n,
        "spark.tasks": m["tasks"] / n,
        "spark.executor_run_s": m["executor_run_s"] / n,
        "spark.gc_s": m["gc_s"] / n,
    }


# -- the hourly cron run --------------------------------------------------


def _ingest(ctx: Ctx, rec: str, src: str, asof: dt.datetime):
    records = ingestion.read_api_records(ctx.spark, rec)
    sources = ingestion.read_api_sources(ctx.spark, src)
    routed = ingestion.route_observations(ingestion.normalize_records(records), sources)
    past, _ = ingestion.split_past_future(routed, asof)
    return past.withColumn("_ingest_ts", ntz_lit(asof))


def _upsert_bronze(ctx: Ctx, batch) -> None:
    writers.upsert_table(ctx.spark, batch, ctx.data, "bronze", BRONZE_OBS,
                         ["station_id", "timestamp"], "timestamp",
                         order_col="_ingest_ts")


def _upsert_gold(ctx: Ctx, incoming) -> None:
    writers.upsert_table(ctx.spark, incoming, ctx.data, "gold", GOLD, GOLD_KEYS, "timestamp")


def _probe(ctx: Ctx, pc: str, hour: int, asof: dt.datetime, tid: str | None) -> bool:
    """Ask /weather/latest/{pc} of an app over freshly read gold until it
    returns `hour` (three attempts); traced when `tid` is given."""
    want = _hour_ts(hour).isoformat()
    for _ in range(3):
        with ctx.tracer.span("api.app", tid) if tid else nullcontext():
            gold = writers.read_table(ctx.spark, ctx.data, "gold", GOLD)
            status, body = call(create_app(ctx.spark, gold, lambda: asof),
                                f"/weather/latest/{pc}")
        if status == 200 and body.get("timestamp") == want:
            return True
        if status >= 500:
            break
    return False


def _verdict(ctx: Ctx, hour: int, pc: str, validation: dict, seen: bool) -> bool:
    ctx.probe_pcs.add(pc)
    if not validation.get("passed"):
        ctx.failures.append(f"hour {hour}: validation failed: {validation.get('issues')}")
    if not seen:
        ctx.failures.append(f"hour {hour}: /weather/latest/{pc} never returned the hour")
    return seen and bool(validation.get("passed"))


def hourly_op(ctx: Ctx, hour: int) -> tuple[float, bool]:
    """One cron run for observation hour `hour`; returns (freshness s, ok).

    Freshness runs from handing the hour's landing files to
    ``sources.ingestion`` until the API probe returns the hour."""
    asof = _hour_ts(hour + 1)
    rec, src, pc, _ = ctx.gen.hourly_batch(ctx.scratch("landing", str(hour)), hour)
    t0 = time.perf_counter()
    _upsert_bronze(ctx, _ingest(ctx, rec, src, asof))
    b = load_bronze(ctx.spark, ctx.data)
    r = run_transform(b[BRONZE_OBS], b[BRONZE_FCST], b["weather_stations"],
                      b["postal_codes"], asof, validate=True)
    _upsert_gold(ctx, r.gold)
    seen = _probe(ctx, pc, hour, asof, None)
    return time.perf_counter() - t0, _verdict(ctx, hour, pc, r.validation, seen)


def hourly_op_traced(ctx: Ctx, hour: int) -> tuple[float, bool]:
    """`hourly_op` with a span around every layer call and each layer's
    output materialized before the next layer reads it."""
    t, spark, tid = ctx.tracer, ctx.spark, f"hourly-{hour}"
    asof = _hour_ts(hour + 1)
    rec, src, pc, n_rec = ctx.gen.hourly_batch(ctx.scratch("landing", str(hour)), hour)
    rows0, _, _ = gold_stats(ctx.gold_path)
    t0 = time.perf_counter()
    with t.span("hourly", tid):
        with t.span("sources.ingestion", tid):
            batch = _write(_ingest(ctx, rec, src, asof), ctx.scratch(tid, "routed"))
        with t.span("sources.writers.bronze", tid):
            _upsert_bronze(ctx, batch)
        b = load_bronze(spark, ctx.data)
        st, pcs = b["weather_stations"], b["postal_codes"]
        with t.span("plans.pipeline", tid):
            run_transform(b[BRONZE_OBS], b[BRONZE_FCST], st, pcs, asof)
        with t.span("plans.cleaning", tid):
            stg_obs = _write(clean_observations(b[BRONZE_OBS], asof, OBS_LOOKBACK_H),
                             ctx.scratch(tid, "stg_obs"))
            stg_fcst = _write(clean_forecasts(b[BRONZE_FCST], asof, FCST_LOOKBACK_H),
                              ctx.scratch(tid, "stg_fcst"))
        with t.span("plans.aggregation", tid):
            incoming = _write(
                aggregate_to_postal_codes(stg_obs, st, pcs, OBSERVATION, asof,
                                          lookback_hours=OBS_LOOKBACK_H)
                .unionByName(aggregate_to_postal_codes(stg_fcst, st, pcs, FORECAST, asof,
                                                       lookback_hours=FCST_LOOKBACK_H)),
                ctx.scratch(tid, "gold_in"),
            )
        with t.span("plans.validation", tid):
            v = validate_ml_ready_data(incoming, asof)
        with t.span("sources.writers", tid):
            _upsert_gold(ctx, incoming)
        seen = _probe(ctx, pc, hour, asof, tid)
    fresh = time.perf_counter() - t0
    # counts outside every span: the spatial fan-out and the gold growth
    t.add("pairs", sum(
        map_to_postal_codes(stg, st, pcs, tf, asof, lb, issue_time_filter=fc).count()
        for stg, tf, lb, fc in ((stg_obs, "timestamp", OBS_LOOKBACK_H, False),
                                (stg_fcst, "target_timestamp", FCST_LOOKBACK_H, True))))
    rows1, bytes1, _ = gold_stats(ctx.gold_path)
    t.add("records", n_rec)
    t.add("new_gold_bytes", (rows1 - rows0) * bytes1 / rows1)
    return fresh, _verdict(ctx, hour, pc, v, seen)


# -- shared set-up --------------------------------------------------------


def check_gold(ctx: Ctx, asof: dt.datetime, label: str) -> bool:
    """Untimed: gold of a seed-chosen sample of postal codes, plus every
    postal code a probe asked for, against the DuckDB oracle over the
    whole history as of `asof`, and GOLD_KEYS unique over all of gold.
    Each hour aggregates only its own bronze rows, so a backfill followed
    by upserts must equal one transform over everything: a merge that
    duplicates keys, drops rows of untouched hours or keeps stale values
    fails here."""
    hours = int((asof - gen.BASE).total_seconds() // 3600)
    rng = random.Random(f"{ctx.seed}-oracle")
    sample = rng.sample([f"1{i:04d}" for i in range(SCALE.postal_codes)], ORACLE_SAMPLE)
    bad = checks.gold_vs_oracle(ctx.repo_root, os.path.join(ctx.data, "bronze"),
                                ctx.gold_path, sorted(set(sample) | ctx.probe_pcs),
                                asof, hours, hours + 24)
    bad += checks.duplicate_keys(ctx.gold_path, GOLD_KEYS)
    ctx.failures += [f"{label}: {m}" for m in bad]
    return not bad


def build_gold(ctx: Ctx, cron_runs: int) -> tuple[float, int, int, int]:
    """Bronze, a backfill of the whole history into date-partitioned gold,
    then hourly upserts into it: `cron_runs` whole cron runs (the hourly
    workload's warm-up), or with 0 a single transform and gold upsert.
    Returns (set-up seconds without the checks, next observation hour,
    ops attempted, ops failed)."""
    h0 = SCALE.days * 24 + 1
    t0 = time.perf_counter()
    ctx.gen.write_bronze(ctx.data, h0)
    asof = _hour_ts(h0)
    b = load_bronze(ctx.spark, ctx.data)
    r = run_transform(b[BRONZE_OBS], b[BRONZE_FCST], b["weather_stations"],
                      b["postal_codes"], asof, obs_lookback_hours=h0,
                      fcst_lookback_hours=h0 + 24)
    writers.write_table(r.gold, ctx.data, "gold", GOLD, partition_by_date_of="timestamp")
    setup_s = time.perf_counter() - t0
    if ctx.trace:
        # the write alone: the backfill's output materialized first, then
        # written again to scratch storage, so the served gold keeps the
        # layout of an untraced run
        gold = _write(r.gold, ctx.scratch("backfill", "stg"))
        with ctx.tracer.span("sources.writers.backfill", "backfill"):
            writers.write_table(gold, ctx.scratch("backfill"), "gold", GOLD,
                                partition_by_date_of="timestamp")
    failed = int(not check_gold(ctx, asof, "backfill gold vs oracle"))

    t0 = time.perf_counter()
    for hour in range(h0, h0 + cron_runs):
        failed += int(not hourly_op(ctx, hour)[1])
    if not cron_runs:
        b = load_bronze(ctx.spark, ctx.data)
        r = run_transform(b[BRONZE_OBS], b[BRONZE_FCST], b["weather_stations"],
                          b["postal_codes"], _hour_ts(h0 + 1))
        _upsert_gold(ctx, r.gold)
    setup_s += time.perf_counter() - t0
    if not cron_runs:  # the hourly workload checks its gold after its last run
        failed += int(not check_gold(ctx, _hour_ts(h0 + 1), "upserted gold vs oracle"))
    return setup_s, h0 + max(1, cron_runs), 1 + max(1, cron_runs), failed


# -- hourly ---------------------------------------------------------------


def run_hourly(ctx: Ctx) -> Result:
    setup_s, hour, attempted, failed = build_gold(ctx, HOURLY_WARMUP_RUNS)

    def measure(op) -> tuple[list[float], int]:
        nonlocal hour
        lat, bad = [], 0
        start = time.perf_counter()
        while not lat or time.perf_counter() - start < ctx.seconds:
            fresh, ok = op(ctx, hour)
            lat.append(fresh)
            bad += 0 if ok else 1
            hour += 1
        return lat, bad

    lat, bad = measure(hourly_op)
    failed += bad
    attempted += len(lat)
    if not ctx.trace:
        failed += int(not check_gold(ctx, _hour_ts(hour), "gold after the last run vs oracle"))
    p50 = statistics.median(lat)
    lines = [f"freshness_p50_s: {p50:.3f} s ({len(lat)} hourly runs)"]
    tail = percentile_tail(lat)
    if tail:
        lines.append(f"freshness_tail_s: {tail[1]:.3f} s (p{tail[0]:.1f}, {len(lat)} runs)")
    else:
        lines.append(f"freshness_tail_s: n/a ({len(lat)} runs; a tail needs 11); "
                     f"max {max(lat):.3f} s")
    layer = {"hourly.freshness_max_s": max(lat)}
    if ctx.trace:
        tlat, tbad = measure(hourly_op_traced)
        failed += tbad
        attempted += len(tlat)
        failed += int(not check_gold(ctx, _hour_ts(hour), "gold after the last run vs oracle"))
        layer.update(_hourly_layers(ctx, len(tlat)))
        layer["trace.overhead_ratio"] = statistics.median(tlat) / p50
    return Result(setup_s, lat, attempted, failed, lines, layer)


def _hourly_layers(ctx: Ctx, n: int) -> dict[str, float]:
    snap = ctx.status.snapshot()
    selfs = ctx.tracer.self_seconds()
    c = ctx.tracer.counters

    def g(name):
        return group_metrics(snap, lambda grp: grp.startswith("hourly-")
                             and grp.endswith("|" + name))

    ing, clean, agg = g("sources.ingestion"), g("plans.cleaning"), g("plans.aggregation")
    wr_gold, wr_bronze = g("sources.writers"), g("sources.writers.bronze")
    _, _, files = gold_stats(ctx.gold_path)
    return {
        "sources.ingestion.self_s": selfs["sources.ingestion"] / n,
        "sources.ingestion.rows_in": c["records"] / n,
        "sources.ingestion.rows_routed": ing["output_records"] / n,
        "sources.ingestion.routed_share": ing["output_records"] / c["records"],
        "sources.writers.upsert_s":
            (selfs["sources.writers"] + selfs["sources.writers.bronze"]) / n,
        "sources.writers.bytes_written":
            (wr_gold["output_bytes"] + wr_bronze["output_bytes"]) / n,
        "sources.writers.write_amplification":
            wr_gold["output_bytes"] / c["new_gold_bytes"] if c["new_gold_bytes"] else 0.0,
        "sources.writers.gold_files": files,
        "plans.pipeline.call_s": selfs["plans.pipeline"] / n,
        "plans.cleaning.self_s": selfs["plans.cleaning"] / n,
        "plans.cleaning.rows_in": clean["input_records"] / n,
        "plans.cleaning.rows_out": clean["output_records"] / n,
        "plans.cleaning.input_bytes": clean["input_bytes"] / n,
        "plans.aggregation.self_s": selfs["plans.aggregation"] / n,
        "plans.aggregation.pairs": c["pairs"] / n,
        "plans.aggregation.rows_out": agg["output_records"] / n,
        "plans.aggregation.shuffle_bytes": agg["shuffle_bytes"] / n,
        "plans.validation.self_s": selfs["plans.validation"] / n,
        "api.app.self_s": selfs["api.app"] / n,
        **_spark_per_op(snap, lambda grp: grp.startswith("hourly-"), n),
    }


# -- api ------------------------------------------------------------------


@dataclass
class Req:
    rid: int
    route: str
    pc: str
    due: float = 0.0
    lag: float = 0.0
    wait: float = 0.0
    latency: float = 0.0
    status: int = 0
    body: object = None
    error: str | None = None
    span_id: int | None = None  # the request's span in a traced run

    @property
    def path(self) -> str:
        return f"/weather/{self.route}/{self.pc}"

    @property
    def n(self) -> int:
        """The route's default `hours` / `hours_ahead` (1 for latest)."""
        return {"postal": 24, "latest": 1, "forecast": 48}[self.route]


def _requests(rng: random.Random, n: int, seconds: float, rid0: int) -> list[Req]:
    """`n` requests at uniform random times in [0, seconds) -- a Poisson
    process conditioned on its count -- with the route mix in exact shares
    and Zipf-popular postal codes."""
    pcs = [f"1{i:04d}" for i in range(SCALE.postal_codes)]
    rng.shuffle(pcs)  # which codes are popular is part of the seed
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(pcs))]
    routes = [r for r, share in ROUTE_MIX for _ in range(round(share * n))]
    routes += [None] * (n - len(routes))  # unknown postal codes
    rng.shuffle(routes)
    times = sorted(rng.uniform(0, seconds) for _ in range(n))
    out = []
    for i, (t, route) in enumerate(zip(times, routes)):
        if route is None:
            req = Req(rid0 + i, rng.choice(ROUTE_MIX)[0], f"0{rng.randrange(10000):04d}")
        else:
            req = Req(rid0 + i, route, rng.choices(pcs, weights)[0])
        req.due = t
        out.append(req)
    return out


def _serve(ctx: Ctx, app, req: Req, traced: bool) -> None:
    """Send one request; its latency counts from `req.due`."""
    req.wait = time.perf_counter() - req.due
    try:
        with ctx.tracer.span("api.app", f"req-{req.rid}") if traced else nullcontext() as sp:
            req.span_id = sp and sp["span_id"]
            req.status, req.body = call(app, req.path)
    except Exception as e:  # counted as a failed request
        req.error = repr(e)
    req.latency = time.perf_counter() - req.due


def closed_loop(ctx: Ctx, app, pool: ThreadPoolExecutor, reqs: list[Req],
                seconds: float | None) -> tuple[list[Req], float]:
    """`ctx.cpus` callers that each send the next request of `reqs` as soon
    as their previous one returns, until `reqs` run out or `seconds` have
    passed.  Returns (requests served, requests per second)."""
    it, lock, done = iter(reqs), threading.Lock(), []
    start = time.perf_counter()
    deadline = start + seconds if seconds is not None else float("inf")

    def caller() -> None:
        while True:
            with lock:
                req = next(it, None) if time.perf_counter() < deadline else None
            if req is None:
                return
            req.due = time.perf_counter()
            _serve(ctx, app, req, False)
            with lock:
                done.append(req)

    for f in [pool.submit(caller) for _ in range(ctx.cpus)]:
        f.result(timeout=170)
    return done, len(done) / (time.perf_counter() - start)


def run_level(ctx: Ctx, app, pool: ThreadPoolExecutor, rate: float, seconds: float,
              traced: bool, rid0: int) -> tuple[list[Req], bool]:
    """Open loop at `rate` for `seconds`: this thread dispatches each request
    at its due time to `pool`.  Returns (requests sent, backlog stayed
    bounded); dispatch stops early once more than 4 x workers requests wait
    for a worker."""
    reqs = _requests(random.Random(f"{ctx.seed}-api-{traced}-{rid0}"),
                     max(1, round(rate * seconds)), seconds, rid0)
    lock, started = threading.Lock(), [0]

    def serve(req: Req) -> None:
        with lock:
            started[0] += 1
        _serve(ctx, app, req, traced)

    start = time.perf_counter() + 0.05
    futures, bounded = [], True
    for i, req in enumerate(reqs):
        req.due += start
        delay = req.due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        if i - started[0] > 4 * ctx.cpus:
            bounded = False
            break
        req.lag = time.perf_counter() - req.due
        futures.append(pool.submit(serve, req))
    for f in futures:
        f.result(timeout=170)
    return reqs[:len(futures)], bounded


def run_api(ctx: Ctx) -> Result:
    setup_s, hour, attempted, failed = build_gold(ctx, 0)
    t0 = time.perf_counter()
    asof = _hour_ts(hour)  # the asof of the set-up's upsert
    app = create_app(ctx.spark, writers.read_table(ctx.spark, ctx.data, "gold", GOLD),
                     lambda: asof)
    setup_s += time.perf_counter() - t0

    snapshot = checks.GoldSnapshot(ctx.gold_path, asof)

    def judge(reqs: list[Req]) -> int:
        bad = 0
        for q_ in reqs:
            status, body = snapshot.expected(q_.route, q_.pc, q_.n)
            if q_.error or q_.status != status or not checks.same_body(q_.body, body):
                bad += 1
                if len(ctx.failures) < 20:
                    got = q_.error or (f"status {q_.status}" if q_.status != status
                                       else "a body that differs from the gold files")
                    ctx.failures.append(f"{q_.path}: got {got}, want status {status}")
        return bad

    pool = ThreadPoolExecutor(ctx.cpus)
    try:
        # warm-up: the read path gets faster over the first hundred or so
        # requests, and a closed-loop burst pushes it along that curve
        list(pool.map(lambda q_: call(app, q_.path),
                      _requests(random.Random(f"{ctx.seed}-warmup"), API_WARMUP_REQUESTS,
                                1.0, 0)))
        # more requests than the callers can send in `seconds`
        pending = _requests(random.Random(f"{ctx.seed}-closed"),
                            max(API_WARMUP_REQUESTS, int(100 * ctx.seconds)), 1.0, 1_000_000)
        ref, capacity = closed_loop(ctx, app, pool, pending, ctx.seconds)
        lat_ms = [q_.latency * 1000 for q_ in ref]
        failed += judge(ref)
        attempted += len(ref)
        p50 = statistics.median(lat_ms)
        tail = percentile_tail(lat_ms)
        lines = [
            f"api_p50_ms: {p50:.2f} ms with {ctx.cpus} closed-loop callers "
            f"({len(ref)} requests, {capacity:.2f} req/s)",
            f"api_tail_ms: {tail[1]:.2f} ms (p{tail[0]:.1f}, {len(ref)} requests)" if tail
            else f"api_tail_ms: n/a ({len(ref)} requests; a tail needs 11)",
        ]
        layer = {"api.closed_tail_ms": tail[1] if tail else max(lat_ms),
                 "api.capacity_rps": capacity}
        if ctx.trace:
            # open loop at shares of the closed loop's throughput: the
            # reference rate's p50 and tail, then api.max_rps, the highest
            # rate whose tail meets the limit with a bounded backlog
            rates = [load * capacity for load in (API_REF_LOAD, *API_STEP_LOADS)]
            max_rps, limit_ms, open_p50 = 0.0, 0.0, 0.0
            for i, rate in enumerate(rates):
                reqs, bounded = run_level(ctx, app, pool, rate, ctx.seconds, False,
                                          (2 + i) * 1_000_000)
                failed += judge(reqs)
                attempted += len(reqs)
                ms = [q_.latency * 1000 for q_ in reqs]
                t_ = percentile_tail(ms)
                if not i:
                    open_p50 = statistics.median(ms)
                    limit_ms = API_TAIL_LIMIT_X * open_p50
                    lags = [q_.lag * 1000 for q_ in reqs]
                    layer["api.open_p50_ms"] = open_p50
                    layer["api.tail_ms"] = t_[1] if t_ else max(ms)
                    lines += [
                        f"api open loop at {rate:.2f} req/s ({API_REF_LOAD} x capacity): "
                        f"p50 {open_p50:.2f} ms" + (f", tail {t_[1]:.2f} ms (p{t_[0]:.1f}, "
                                                     f"{len(ms)} requests)" if t_ else ""),
                        f"api generator lateness: median {statistics.median(lags):.2f} ms, "
                        f"max {max(lags):.2f} ms",
                    ]
                if not (bounded and t_ is not None and t_[1] <= limit_ms):
                    break
                max_rps = rate
            lines.append(
                f"api_max_rps: {max_rps:.2f} req/s (tail limit {limit_ms:.0f} ms = "
                f"{API_TAIL_LIMIT_X} x the open-loop p50; tested "
                f"{', '.join(f'{r:.2f}' for r in rates)} req/s)")
            layer["api.max_rps"] = max_rps

            traced, _ = run_level(ctx, app, pool, rates[0], ctx.seconds, True, 9_000_000)
            layer.update(_api_layers(ctx, traced))
            layer["trace.overhead_ratio"] = (
                statistics.median(q_.latency * 1000 for q_ in traced) / open_p50)
            failed += judge(traced)
            attempted += len(traced)
        else:
            lines.append("api_max_rps: measured by the traced run (--trace 1)")
    finally:
        pool.shutdown()
        snapshot.close()
    return Result(setup_s, [x / 1000 for x in lat_ms], attempted, failed, lines, layer)


def _api_layers(ctx: Ctx, reqs: list[Req]) -> dict[str, float]:
    snap = ctx.status.snapshot()
    n = len(reqs)
    total = group_metrics(snap, lambda grp: grp.startswith("req-"))
    by_rid = {q_.rid: q_ for q_ in reqs}
    job_s: dict[int, float] = {}
    for j in snap["jobs"]:
        grp = j.get("jobGroup") or ""
        if grp.startswith("req-"):
            req = by_rid[int(grp.split("|")[0][4:])]
            job_s[req.rid] = job_s.get(req.rid, 0.0) + job_seconds(j)
            span = job_span(j)
            if span:  # the query job as a child span of its request
                ctx.tracer.add_span(f"plans.queries.{req.route}", f"req-{req.rid}",
                                    req.span_id, *span)
    per_route: dict[str, list[float]] = {r: [] for r, _ in ROUTE_MIX}
    app_self, rows_returned = [], 0
    for q_ in reqs:
        s = job_s.get(q_.rid, 0.0)
        per_route[q_.route].append(s)
        app_self.append(q_.latency - q_.wait - s)
        if q_.status == 200 and isinstance(q_.body, dict):
            rows_returned += q_.body.get("records", 1)
    out = {f"plans.queries.{r}.self_s": statistics.mean(xs) if xs else 0.0
           for r, xs in per_route.items()}
    out.update({
        "plans.queries.files_read": total["files_read"] / n,
        "plans.queries.bytes_read": total["input_bytes"] / n,
        "plans.queries.tasks": total["tasks"] / n,
        "plans.queries.rows_scanned_per_row_returned":
            total["input_records"] / rows_returned if rows_returned else 0.0,
        "api.app.self_s": statistics.mean(app_self),
        "api.app.queue_wait_ms": statistics.median(q_.wait for q_ in reqs) * 1000,
        "api.app.generator_lag_ms": statistics.median(q_.lag for q_ in reqs) * 1000,
        "api.app.status_2xx": sum(1 for q_ in reqs if 200 <= q_.status < 300),
        "api.app.status_404": sum(1 for q_ in reqs if q_.status == 404),
        "api.app.status_5xx": sum(1 for q_ in reqs if q_.status >= 500 or q_.error),
        **_spark_per_op(snap, lambda grp: grp.startswith("req-"), n),
    })
    return out


WORKLOADS = {"hourly": run_hourly, "api": run_api}

# Per-layer metrics of the traced run, with units.  Values are per
# operation (one hourly run, one request) unless the unit says otherwise;
# a layer a workload bypasses reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.ingestion.self_s": "s",
    "sources.ingestion.rows_in": "rows",
    "sources.ingestion.rows_routed": "rows",
    "sources.ingestion.routed_share": "ratio",
    "sources.writers.upsert_s": "s",
    "sources.writers.backfill_write_s": "s",
    "sources.writers.bytes_written": "B",
    "sources.writers.write_amplification": "ratio",
    "sources.writers.gold_files": "files",
    "plans.cleaning.self_s": "s",
    "plans.cleaning.rows_in": "rows",
    "plans.cleaning.rows_out": "rows",
    "plans.cleaning.input_bytes": "B",
    "plans.aggregation.self_s": "s",
    "plans.aggregation.pairs": "rows",
    "plans.aggregation.rows_out": "rows",
    "plans.aggregation.shuffle_bytes": "B",
    "plans.pipeline.call_s": "s",
    "plans.validation.self_s": "s",
    "plans.queries.postal.self_s": "s",
    "plans.queries.latest.self_s": "s",
    "plans.queries.forecast.self_s": "s",
    "plans.queries.files_read": "files",
    "plans.queries.bytes_read": "B",
    "plans.queries.tasks": "tasks",
    "plans.queries.rows_scanned_per_row_returned": "ratio",
    "api.app.self_s": "s",
    "api.app.queue_wait_ms": "ms",
    "api.app.generator_lag_ms": "ms",
    "api.app.status_2xx": "count",
    "api.app.status_404": "count",
    "api.app.status_5xx": "count",
    "spark.jobs": "jobs",
    "spark.tasks": "tasks",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "trace.overhead_ratio": "ratio",
    "hourly.freshness_max_s": "s",
    "api.tail_ms": "ms",
    "api.max_rps": "req/s",
    "api.capacity_rps": "req/s",
    "api.open_p50_ms": "ms",
    "api.closed_tail_ms": "ms",
}

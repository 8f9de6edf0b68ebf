"""Scheduler semantics for the pipeline jobs — the reference's Airflow DAG
configs re-expressed as a dependency-free driver-side runner.

The reference schedules three DAGs (`dags/ingest_observations_dag.py:26-34`,
`dags/ingest_forecasts_dag.py:26-34`, `dags/transform_weather_dag.py:35-43`)
with exactly these semantics, all reproduced here:

- ``schedule_interval`` cron ('0 */6 * * *' six-hourly ingest,
  '30 * * * *' hourly transform at :30)
- ``retries=2, retry_delay=timedelta(minutes=5)`` per task
- ``max_active_runs=1`` — a job never overlaps itself
- ``catchup=False`` — missed intervals collapse to the latest one

The runner is deliberately engine-agnostic: a job is any callable taking
the scheduled ``asof`` datetime (e.g. ``functools.partial(run_transform,
...)``) — the Spark work stays in `plans/pipeline.py`. A deployment keeps
one Scheduler in a long-lived driver process and calls
:meth:`Scheduler.tick` on a timer: the last tick and the active runs are
held in memory, so catch-up and overlap work only within one process, and
every run shares that process's SparkSession and JVM (which
``session.get_spark``'s codegen cache relies on). The
point is that the ORCHESTRATION CONTRACT (when a run fires, what happens
on failure, what happens when the previous run is still going) is code
under test here, not configuration lore.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

_FIELD_RANGES = ((0, 59), (0, 23), (1, 31), (1, 12), (0, 6))  # m h dom mon dow


def _parse_field(spec: str, lo: int, hi: int) -> set[int]:
    """One cron field: ``*``, ``*/n``, ``a``, ``a-b``, ``a,b,c`` (and
    combinations via commas). The subset the reference's DAGs use plus the
    obvious neighbors."""
    out: set[int] = set()
    for part in spec.split(","):
        if part == "*":
            out.update(range(lo, hi + 1))
        elif part.startswith("*/"):
            out.update(range(lo, hi + 1, int(part[2:])))
        elif "-" in part:
            a, b = part.split("-")
            out.update(range(int(a), int(b) + 1))
        else:
            out.add(int(part))
    bad = [v for v in out if not lo <= v <= hi]
    if bad:
        raise ValueError(f"cron field {spec!r} out of range [{lo},{hi}]: {bad}")
    return out


@dataclass(frozen=True)
class CronSchedule:
    """5-field cron expression (minute hour day-of-month month day-of-week)."""

    expr: str

    def _sets(self) -> list[set[int]]:
        fields = self.expr.split()
        if len(fields) != 5:
            raise ValueError(f"expected 5 cron fields, got {self.expr!r}")
        return [
            _parse_field(f, lo, hi)
            for f, (lo, hi) in zip(fields, _FIELD_RANGES)
        ]

    def matches(self, t: dt.datetime) -> bool:
        m, h, dom, mon, dow = self._sets()
        dom_field, dow_field = self.expr.split()[2], self.expr.split()[4]
        dom_ok = t.day in dom
        dow_ok = t.weekday() in {(d - 1) % 7 for d in dow}  # cron 0=Sun
        # Vixie-cron day rule (also croniter/Airflow): when BOTH day fields
        # are restricted, the day matches if EITHER does; otherwise ANDed
        # (the unrestricted one matches everything, so this degenerates to
        # the restricted one). Vixie sets its DOM_STAR/DOW_STAR flag for any
        # field that STARTS with '*' — so '*' and '*/2' both count as
        # unrestricted for this rule. The reference's three DAGs use '*'
        # for both, so they hit the AND branch either way.
        dom_star = dom_field.startswith("*")
        dow_star = dow_field.startswith("*")
        day_ok = (
            (dom_ok or dow_ok)
            if not dom_star and not dow_star
            else (dom_ok and dow_ok)
        )
        return t.minute in m and t.hour in h and t.month in mon and day_ok

    def fires_between(
        self, start: dt.datetime, end: dt.datetime
    ) -> list[dt.datetime]:
        """All fire times in (start, end], minute resolution."""
        out = []
        t = (start + dt.timedelta(minutes=1)).replace(second=0, microsecond=0)
        while t <= end:
            if self.matches(t):
                out.append(t)
            t += dt.timedelta(minutes=1)
        return out


@dataclass
class RunRecord:
    job: str
    scheduled_for: dt.datetime
    state: str  # "success" | "failed" | "skipped_active"
    attempts: int
    error: str | None = None


@dataclass
class Job:
    """One DAG-equivalent: a callable fired on a cron schedule with the
    reference's retry and overlap semantics."""

    name: str
    schedule: CronSchedule
    fn: Callable[[dt.datetime], Any]
    retries: int = 2  # default_args['retries']
    retry_delay: dt.timedelta = dt.timedelta(minutes=5)
    max_active_runs: int = 1
    catchup: bool = False


class Scheduler:
    """Drive jobs from wall-clock ticks (or simulated ones in tests).

    ``tick(now)`` finds each job's fire times since its last tick; with
    ``catchup=False`` only the latest missed interval runs (Airflow's
    behavior); each run retries up to ``retries`` extra attempts with
    ``retry_delay`` between (injectable ``sleep``); ``max_active_runs=1``
    skips a fire whose previous run is still marked active — with a
    single-threaded runner that happens when a run re-enters via
    :meth:`fire` (e.g. an external trigger racing the cron)."""

    def __init__(
        self,
        jobs: list[Job],
        start: dt.datetime,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.jobs = {j.name: j for j in jobs}
        self._last_tick = {j.name: start for j in jobs}
        self._active: dict[str, int] = {}  # name -> live run count
        self.ledger: list[RunRecord] = []
        self._sleep = sleep

    def tick(self, now: dt.datetime) -> list[RunRecord]:
        """Fire everything due in (last_tick, now]."""
        fired: list[RunRecord] = []
        for name, job in self.jobs.items():
            due = job.schedule.fires_between(self._last_tick[name], now)
            self._last_tick[name] = now
            if not due:
                continue
            if not job.catchup:
                due = due[-1:]  # collapse missed intervals to the latest
            for when in due:
                fired.append(self.fire(name, when))
        return fired

    def fire(self, name: str, scheduled_for: dt.datetime) -> RunRecord:
        job = self.jobs[name]
        if self._active.get(name, 0) >= job.max_active_runs:
            rec = RunRecord(name, scheduled_for, "skipped_active", 0)
            self.ledger.append(rec)
            return rec
        self._active[name] = self._active.get(name, 0) + 1
        attempts = 0
        err: str | None = None
        try:
            for attempt in range(job.retries + 1):
                attempts = attempt + 1
                try:
                    job.fn(scheduled_for)
                    rec = RunRecord(name, scheduled_for, "success", attempts)
                    self.ledger.append(rec)
                    return rec
                except Exception as e:  # noqa: BLE001 — task isolation
                    err = f"{type(e).__name__}: {e}"
                    if attempt < job.retries:
                        self._sleep(job.retry_delay.total_seconds())
            rec = RunRecord(name, scheduled_for, "failed", attempts, err)
            self.ledger.append(rec)
            return rec
        finally:
            self._active[name] -= 1
            if self._active[name] <= 0:
                del self._active[name]


def reference_jobs(
    ingest_observations: Callable[[dt.datetime], Any],
    ingest_forecasts: Callable[[dt.datetime], Any],
    transform: Callable[[dt.datetime], Any],
) -> list[Job]:
    """The reference's three DAGs with their exact cron expressions
    (`ingest_observations_dag.py:30`, `ingest_forecasts_dag.py:30`,
    `transform_weather_dag.py:39`)."""
    return [
        Job("ingest_observations_dag", CronSchedule("0 */6 * * *"), ingest_observations),
        Job("ingest_forecasts_dag", CronSchedule("0 */6 * * *"), ingest_forecasts),
        Job("transform_weather_dag", CronSchedule("30 * * * *"), transform),
    ]

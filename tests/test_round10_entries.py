"""Round-10 surface: the production hybrid operating point (verdict #1).

t30 composes v18's exact re-rank into the BM25+IVFPQ+RRF stack — the
configuration whose measured fused recall@10 is 0.93 (RECALL_HYBRID.json,
n_probe=4/R=400) where the R=0 form (t28) scores 0.58. t31 is its
persisted serving twin sharing t30's oracle verbatim; the pin here makes
plain pytest catch any drift between the two forms.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_sv_spark.catalog.hybrid import _exact_rerank


def test_exact_rerank_orders_by_true_cosine(spark):
    """The refine stage must re-order an ADC shortlist by TRUE cosine —
    the exact scenario PQ code error creates: the compressed distance
    ranked n20 < n10 < n30, the true geometry says n10 > n30 > n20."""
    q = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0])], "query_id long, qemb array<double>"
    )
    emb = spark.createDataFrame(
        [
            (10, [0.9, 0.1, 0.0]),   # cos ≈ 0.9939 — true best
            (20, [0.0, 1.0, 0.0]),   # cos = 0 — ADC's (wrong) favorite
            (30, [0.5, 0.5, 0.0]),   # cos ≈ 0.7071
            (40, [-1.0, 0.0, 0.0]),  # cos = -1 — not shortlisted at all
        ],
        "vec_id long, emb array<double>",
    )
    shortlist = spark.createDataFrame(
        [(1, 20), (1, 10), (1, 30)], "query_id long, neighbor_id long"
    )
    out = _exact_rerank(shortlist, emb, q, k=2).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(10, 1), (30, 2)]  # exact order, k-truncated, 40 absent


def test_exact_rerank_tiebreak_is_neighbor_id(spark):
    """Equal 6-dp cosine → ascending neighbor_id, the family's
    deterministic tie-break (oracle parity depends on it)."""
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, qemb array<double>"
    )
    emb = spark.createDataFrame(
        [(7, [2.0, 0.0]), (3, [5.0, 0.0])],  # both cos = 1.0 exactly
        "vec_id long, emb array<double>",
    )
    shortlist = spark.createDataFrame(
        [(1, 7), (1, 3)], "query_id long, neighbor_id long"
    )
    out = _exact_rerank(shortlist, emb, q, k=2).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(3, 1), (7, 2)]


# ---------------------------------------------------------------------------
# t30/t31: the persisted re-ranked composition must answer IDENTICALLY
# to the in-memory one — the same proof the shared oracle makes at
# sweep time (train/encode/probe/shortlist/re-rank/fusion all have to
# agree bit-for-bit for this to hold).
# ---------------------------------------------------------------------------
def test_persisted_rerank_hybrid_equals_in_memory(spark, sf_dir):
    from weather_data_pipeline_sv_spark.catalog import all_queries

    q = all_queries()
    a = sorted(map(tuple, q["t30_hybrid_rrf_rerank"](spark, sf_dir).collect()))
    b = sorted(
        map(tuple, q["t31_hybrid_rerank_served"](spark, sf_dir).collect())
    )
    assert a == b and len(a) > 0


def test_rerank_leg_differs_from_adc_leg_when_codes_misrank(spark, sf_dir):
    """Sanity on WHY t30 exists: at the test dirs the shortlist covers
    the probed lists, so the re-ranked dense leg is exact-over-probed —
    it must be a (weakly) better cosine ordering than raw ADC. Assert
    the two entries at least agree on schema and row count so the
    catalog contract holds, and that t30's fused output is valid RRF
    (scores within (0, 2/(rrf_k+1)])."""
    from weather_data_pipeline_sv_spark.catalog import all_queries
    from weather_data_pipeline_sv_spark.catalog.text_retrieval import (
        _T27_RRF_K,
    )

    q = all_queries()
    t28 = q["t28_hybrid_rrf_ann"](spark, sf_dir)
    t30 = q["t30_hybrid_rrf_rerank"](spark, sf_dir)
    assert t28.columns == t30.columns
    rows = t30.collect()
    assert len(rows) > 0
    hi = 2.0 / (_T27_RRF_K + 1)
    assert all(0.0 < r["rrf"] <= hi + 1e-9 for r in rows)
    per_q = (
        t30.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_q <= 5  # _BM25_K


# ---------------------------------------------------------------------------
# Round-10 verdict #5: the footer probe's driver cost is bounded (thread
# pool + sampling cap) and instant-typed stats are rendered into the
# session zone before the naive comparison.
# ---------------------------------------------------------------------------
def test_footer_probe_thousand_files_is_fast(spark, tmp_path):
    import datetime as dt
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_data_pipeline_sv_spark.plans.aggregation import (
        _windowed_points_upper_bound,
    )

    base = dt.datetime(2026, 1, 1)
    src = tmp_path / "many"
    src.mkdir()
    n_files, rows_per = 1200, 10
    for i in range(n_files):
        ts = [base + dt.timedelta(hours=i * rows_per + j)
              for j in range(rows_per)]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                      "v": list(range(rows_per))}),
            src / f"part-{i:05d}.parquet",
        )
    fact = spark.read.parquet(str(src))
    # last ~25% of the hour range
    cutoff = base + dt.timedelta(hours=int(n_files * rows_per * 0.75))
    t0 = time.monotonic()
    bound = _windowed_points_upper_bound(fact, "ts", cutoff)
    elapsed = time.monotonic() - t0
    exact = fact.filter(F.col("ts") >= F.lit(cutoff)).count()
    assert bound is not None and bound >= exact
    # chronological layout keeps the bound tight even through sampling
    assert bound <= exact + 2 * rows_per * (n_files / 1024 + 1)
    # the driver-cost contract: a thousand footers in well under 100 ms
    # of budget-per-file — pooled, this is tens of ms on this box; the
    # assertion leaves headroom for CI noise without letting a
    # sequential regression (~hundreds of ms) back in
    assert elapsed < 1.0, f"footer probe took {elapsed:.3f}s"


def test_footer_probe_sampling_extrapolates(spark, tmp_path):
    """Past FOOTER_PROBE_MAX_FILES the probe samples and extrapolates;
    force a tiny cap to exercise that path deterministically."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_data_pipeline_sv_spark.plans import aggregation as agg

    base = dt.datetime(2026, 1, 1)
    src = tmp_path / "sampled"
    src.mkdir()
    n_files, rows_per = 64, 10
    for i in range(n_files):
        ts = [base + dt.timedelta(hours=i * rows_per + j)
              for j in range(rows_per)]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                      "v": list(range(rows_per))}),
            src / f"part-{i:05d}.parquet",
        )
    fact = spark.read.parquet(str(src))
    cutoff = base + dt.timedelta(hours=320)  # last half
    exact = fact.filter(F.col("ts") >= F.lit(cutoff)).count()
    old_cap = agg.FOOTER_PROBE_MAX_FILES
    agg.FOOTER_PROBE_MAX_FILES = 16
    try:
        est = agg._windowed_points_upper_bound(fact, "ts", cutoff)
    finally:
        agg.FOOTER_PROBE_MAX_FILES = old_cap
    assert est is not None
    # rate-extrapolated estimate: within one stride (n/cap files) of the
    # truth on a chronological layout
    assert abs(est - exact) <= (n_files / 16 + 1) * rows_per


def test_footer_probe_instant_stats_use_session_zone(spark, tmp_path):
    """An instant-typed (tz-aware) column under a session zone AHEAD of
    UTC: the old naive UTC strip under-included row groups near the
    cutoff — the bound came out BELOW the exact count, silently erring
    toward broadcast. The fix renders stats into the session zone."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_data_pipeline_sv_spark.plans.aggregation import (
        _windowed_points_upper_bound,
    )

    src = tmp_path / "instant"
    src.mkdir()
    base = dt.datetime(2025, 12, 31)  # 24 hourly instants, UTC
    ts = [base + dt.timedelta(hours=j) for j in range(24)]
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                  "v": list(range(24))}),
        src / "part-0.parquet",
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        fact = spark.read.parquet(str(src))
        # naive cutoff = session-zone wall time: 05:00 Tokyo Jan 1
        # = 20:00 UTC Dec 31 -> exactly 4 of the 24 rows qualify.
        # The exact count uses a SQL timestamp literal (interpreted in
        # the SESSION zone — F.lit(datetime) would convert via the OS
        # zone, the verify-skill trap, and measure the wrong thing).
        cutoff = dt.datetime(2026, 1, 1, 5)
        exact = fact.filter(
            F.expr("ts >= TIMESTAMP '2026-01-01 05:00:00'")
        ).count()
        assert exact == 4
        bound = _windowed_points_upper_bound(fact, "ts", cutoff)
        # pre-fix: stripped max 2025-12-31T23:00 < cutoff -> bound 0 < 4
        assert bound is not None and bound >= exact
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# ---------------------------------------------------------------------------
# Round-10 verdict #5 "Done" clause: the auto selector's decisions at
# the three weather dirs are pinned — the probe changes (pool, sampling,
# tz handling) must not move the measured crossover.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "d,expected_grid_calls",
    [("data_wx1", 0), ("data_wx10", 0), ("data_wx30", 1)],
)
def test_auto_selector_decisions_pinned_at_wx_dirs(
    spark, monkeypatch, d, expected_grid_calls
):
    import datetime as dt
    import json
    import os

    import weather_data_pipeline_sv_spark.operators.spatial as spatial_mod
    from weather_data_pipeline_sv_spark.plans import schemas
    from weather_data_pipeline_sv_spark.plans.pipeline import run_transform

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), d)
    if not os.path.isdir(root):
        pytest.skip(f"{d} not generated on this machine")
    t = {}
    for name, schema in (
        ("weather_stations", schemas.WEATHER_STATIONS),
        ("postal_codes", schemas.POSTAL_CODES),
        ("raw_weather_observations", schemas.RAW_WEATHER_OBSERVATIONS),
        ("raw_weather_forecasts", schemas.RAW_WEATHER_FORECASTS),
    ):
        t[name] = spark.read.schema(schema).parquet(
            f"{root}/{name}.parquet"
        )
    with open(f"{root}/meta.json") as f:
        meta = json.load(f)
    asof = dt.datetime.fromisoformat(meta["base_ts"]) + dt.timedelta(
        hours=meta["days"] * 24
    )
    calls = []
    orig = spatial_mod.bucketed_range_join

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(spatial_mod, "bucketed_range_join", spy)
    # building the plan runs the decision; run_transform then computes
    # the window's gold once (Spark jobs run), which does not re-decide
    run_transform(
        t["raw_weather_observations"], t["raw_weather_forecasts"],
        t["weather_stations"], t["postal_codes"], asof,
        spatial_join="auto",
    )
    assert len(calls) == expected_grid_calls
